package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorOps._
import TextQueries.toks

/** Similarity search + fuzzy deduplication over the `embeddings` and
  * `documents` tables (SURVEY §2.8 — the north-star LLM-pipeline surface;
  * nothing like this exists in the 113-line reference).
  *
  * Scale design (100 TB):
  *   - `q_sim_topk` broadcasts the single probe vector and computes cosine
  *     in the scan stage — a map-only pass + TakeOrderedAndProject; on a
  *     1000-executor cluster this is embarrassingly parallel.
  *   - `q_dedup_embed` is the exact baseline kept for the oracle, run as
  *     a BLOCKED pair equi-join (see [[embedPairs]]) — O(n²) dot products
  *     (irreducible for an exact low-threshold cosine join) but no
  *     full-table broadcast and no nested-loop plan; the approximate scale
  *     path is `q_ann_ivf` (inverted-file pruning: only nprobe clusters
  *     are scanned) and `q_sim_pairs_lsh` (banded MinHash: candidates only
  *     materialize where a band collides — the shuffle key is the band
  *     signature, never the pair space).
  *   - `q_dedup_simhash` reduces each document to one 64-bit signature and
  *     finds hamming-≤3 pairs by the 4×16-bit pigeonhole block join —
  *     signature generation is one aggregation, candidate generation joins
  *     on 16-bit block equality, so the pair space is never enumerated.
  *
  * Determinism: every score surfaced is `round(·, 4)`; thresholds and sort
  * keys are applied to the *rounded* value so Spark and the DuckDB oracle
  * take the same boundary decisions (SURVEY §7.5).
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_topk"      -> simTopK _,
    "q_search_rerank" -> searchRerank _,
    "q_dedup_embed"   -> dedupEmbed _,
    "q_sim_pairs_lsh" -> simPairsLsh _,
    "q_dedup_simhash" -> dedupSimhash _,
    "q_ann_ivf"       -> annIvf _,
    "q_ann_rp"        -> annRp _,
    "q_embed_quantize" -> embedQuantize _,
    "q_dedup_semantic" -> dedupSemantic _,
    "q_sim_batch_topk" -> simBatchTopK _,
    "q_dedup_incremental_lsh" -> dedupIncrementalLsh _,
    "q_embed_knn"     -> embedKnn _,
    "q_eval_ndcg"     -> evalNdcg _,
    "q_embed_kmeans"  -> embedKmeans _,
    "q_embed_mmr"     -> embedMmr _,
    "q_sample_negatives" -> sampleNegatives _,
    "q_ann_recall"    -> annRecall _,
    "q_eval_mrr"      -> evalMrr _,
    "q_contamination_embed" -> contaminationEmbed _,
    "q_dedup_sweep"   -> dedupSweep _,
    "q_eval_rbo"      -> evalRbo _,
    "q_eval_cluster_purity" -> evalClusterPurity _,
    "q_align_margin"  -> alignMargin _
  )

  /** EXACT decimal literals of 0.9^(d−1) — BigDecimal text, parsed to
    * the identical nearest double by both engines (no libm pow). */
  private[operators] val rboWeights: Seq[String] =
    (1 to 10).map(d => BigDecimal("0.9").pow(d - 1).toString)

  /** The DuckDB twin of the rounded double cosine (`round(dot / (‖a‖·‖b‖),
    * 4)` over float lists cast element-wise to double, summed
    * left-to-right — not DuckDB's float32 `list_cosine_similarity`): the
    * one copy every oracle interpolates. */
  private[operators] def cosListSql(a: String, b: String): String =
    s"""round(
       |      list_sum(list_transform(range(1, len($a) + 1),
       |        i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |      / (sqrt(list_sum(list_transform($a,
       |            x -> x::DOUBLE * x::DOUBLE)))
       |       * sqrt(list_sum(list_transform($b,
       |            x -> x::DOUBLE * x::DOUBLE)))), 4)""".stripMargin

  /** One unrolled MMR greedy round: redundancy = max pairwise sim to
    * the already-chosen set, argmax of the shared score tree via
    * min-struct with vec_id tiebreak. */
  private def mmrRoundSql(r: Int): String =
    s"""red$r AS (
       |  SELECT c.vec_id AS v, c.cq AS q, max(p2.sim) AS red
       |  FROM cand c
       |  JOIN pairs p2 ON p2.i = c.vec_id
       |  JOIN all${r - 1} ch ON ch.vec_id = p2.j
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM all${r - 1})
       |  GROUP BY 1, 2),
       |pick$r AS (
       |  SELECT min(struct_pack(nm := -(0.7 * q - 0.3 * red),
       |    v := v, q := q, red := red)) AS b
       |  FROM red$r),
       |ch$r AS (
       |  SELECT (b).v AS vec_id, CAST($r AS BIGINT) AS rank,
       |    (b).q AS cq, (b).red AS redundancy,
       |    round(0.7 * (b).q - 0.3 * (b).red, 4) AS mmr_score
       |  FROM pick$r WHERE (b).v IS NOT NULL),
       |all$r AS (SELECT * FROM all${r - 1}
       |          UNION ALL SELECT * FROM ch$r)""".stripMargin

  /** The fixed RP hyperplanes as a DuckDB list-of-lists literal — the
    * index definition's constants shipped into the twin the same way
    * the Spark plan ships them as `typedlit`s. Doubles printed via
    * Java's round-trip `toString`, so DuckDB parses the bit-identical
    * value FloatVecDot's (double)float cast produces. */
  private def planesLit(ps: Seq[Seq[Float]]): String =
    ps.map(_.map(_.toDouble.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** In-order dot of an embedding against plane `idxExpr` (1-based into
    * the `pl` literal) — FloatVecDot's exact accumulation. */
  private def rpDotSql(vec: String, idxExpr: String): String =
    s"list_sum(list_transform(range(1, 65), " +
      s"i -> ($vec)[i]::DOUBLE * pl[CAST($idxExpr AS INT)][i]))"

  /** Sign-bit signature Σ 2^b over `bits` planes starting at plane
    * `base` (SQL expr, 0-based). */
  private def rpSigSql(vec: String, base: String, bits: Int): String =
    (0 until bits).map { b =>
      s"CASE WHEN ${rpDotSql(vec, s"($base) + ${b + 1}")} >= 0 " +
        s"THEN ${1L << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  // lazy: entries reference the hyperplane/band constants declared
  // later in the object body; a strict val would read them before init.
  lazy val oracle: Map[String, String] = Map(
    // Round-10 conversion from rows-only: the sign-hash clustering is a
    // deterministic function of the fixed hyperplane constants (shipped
    // as literals), and the >= 0 / >= 0.4 comparisons run on doubles
    // both engines compute identically (in-order accumulation).
    "q_dedup_semantic" -> (
      s"""WITH consts AS (
        |  SELECT ${planesLit(rpPlanes.take(SemBits).map(_.toSeq))} AS pl),
        |cl AS (
        |  SELECT vec_id, embedding,
        |    CAST(${rpSigSql("embedding", "0", SemBits)} AS BIGINT)
        |      AS cluster
        |  FROM embeddings, consts),
        |dup AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM cl a JOIN cl b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, 65),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |          x -> x::DOUBLE * x::DOUBLE)))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |          x -> x::DOUBLE * x::DOUBLE)))) >= $SemTau)
        |SELECT c.vec_id, c.cluster, d.vec_id IS NULL AS keep
        |FROM cl c LEFT JOIN dup d ON d.vec_id = c.vec_id
        |ORDER BY c.vec_id""".stripMargin),
    // Round-10 conversion from rows-only: the IVF probe is
    // deterministic end-to-end — centroids are per-(label, dim) double
    // means, cluster choice ranks the ROUNDED centroid cosine with a
    // label tiebreak, and the within-cluster scores use the raw float
    // vectors (in-order accumulation). The only cross-engine float
    // caveat is avg's summation order in the centroid; it sits behind a
    // 4dp round, the same exposure every rounded-avg oracle carries.
    "q_ann_ivf" -> (
      s"""WITH dims AS (
        |  SELECT label, i AS pos, embedding[CAST(i AS INT)]::DOUBLE AS v
        |  FROM (SELECT label, embedding, unnest(range(1, 65)) AS i
        |        FROM embeddings)),
        |centroids AS (
        |  SELECT label AS cl, list(avg_v ORDER BY pos) AS centroid
        |  FROM (SELECT label, pos, avg(v) AS avg_v FROM dims
        |        GROUP BY 1, 2)
        |  GROUP BY label),
        |probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
        |  WHERE vec_id < 5),
        |pc AS (
        |  SELECT probe_id, pv, cl,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY ${cosListSql("pv", "centroid")} DESC, cl) AS crnk
        |  FROM probes, centroids),
        |probeclusters AS (
        |  SELECT probe_id, pv, cl FROM pc WHERE crnk <= $IvfNprobe),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    ${cosListSql("p.pv", "e.embedding")} AS cos_sim
        |  FROM probeclusters p JOIN embeddings e
        |    ON e.label = p.cl AND e.vec_id <> p.probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT probe_id, vec_id, cos_sim, rnk FROM ranked
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin),
    // Round-10 conversion: all 4 × 8 sign bits from the same literal
    // plane table; candidates = any-table signature collision, exact
    // rounded cosine ranks them per probe.
    "q_ann_rp" -> (
      s"""WITH consts AS (
        |  SELECT ${planesLit(rpPlanes.map(_.toSeq))} AS pl),
        |sigs AS (
        |  SELECT vec_id, t.t,
        |    CAST(${rpSigSql("embedding", "t.t * 8", RpBits)} AS BIGINT)
        |      AS sig
        |  FROM embeddings, consts,
        |    (SELECT unnest(range(0, ${RpTables})) AS t) t),
        |pairs AS (
        |  SELECT DISTINCT p.vec_id AS probe_id, s.vec_id
        |  FROM sigs p JOIN sigs s
        |    ON p.t = s.t AND p.sig = s.sig AND s.vec_id <> p.vec_id
        |  WHERE p.vec_id < 5),
        |scored AS (
        |  SELECT pr.probe_id, pr.vec_id,
        |    ${cosListSql("a.embedding", "b.embedding")} AS cos_sim
        |  FROM pairs pr
        |  JOIN embeddings a ON a.vec_id = pr.probe_id
        |  JOIN embeddings b ON b.vec_id = pr.vec_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT probe_id, vec_id, cos_sim, rnk
        |FROM ranked WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin),
    // Round-10 conversion from rows-only: LshSql replays the full
    // shingle → xxhash64 → minhash → band-signature pipeline in exact
    // integer arithmetic (the hash family is FIXED constants — the
    // pipeline is deterministic even though its recall is
    // probabilistic), then the same band self-join + exact-Jaccard
    // verify.
    "q_sim_pairs_lsh" -> (
      s"""WITH ${LshSql.prefix},
        |${LshSql.scoredCtes}
        |SELECT d1, d2, round(jac, 4) AS jaccard
        |FROM scored WHERE jac >= 0.5
        |ORDER BY d1, d2""".stripMargin),
    // Round-10 conversion: delta (doc_id % 4 = 0) band rows probed
    // against the base partition's — candidates only on a band
    // collision, exact-Jaccard verified, rounded ≥ 0.9, best match by
    // (jaccard, −base_id) struct-max, all delta docs left-joined back.
    "q_dedup_incremental_lsh" -> (
      s"""WITH ${LshSql.prefix},
        |candi AS (
        |  SELECT DISTINCT x.doc_id AS did, y.doc_id AS bid
        |  FROM sigs x JOIN sigs y ON x.sig = y.sig
        |  WHERE x.doc_id % 4 = 0 AND y.doc_id % 4 <> 0),
        |scoredi AS (
        |  SELECT c.did, c.bid,
        |    round(CAST(len(list_intersect(a.sarr, b2.sarr)) AS DOUBLE)
        |      / (len(a.sarr) + len(b2.sarr)
        |         - len(list_intersect(a.sarr, b2.sarr))), 4) AS j
        |  FROM candi c
        |  JOIN sarrs a ON a.doc_id = c.did
        |  JOIN sarrs b2 ON b2.doc_id = c.bid),
        |best AS (
        |  SELECT did AS doc_id, CAST(count(*) AS BIGINT) AS n_dup_base,
        |    max(struct_pack(j := j, nb := -bid)) AS m
        |  FROM scoredi WHERE j >= 0.9 GROUP BY did)
        |SELECT d.doc_id,
        |  coalesce(b.n_dup_base, 0) AS n_dup_base,
        |  CAST(-((b.m).nb) AS BIGINT) AS best_base,
        |  (b.m).j AS best_jaccard,
        |  b.n_dup_base IS NOT NULL AS is_dup
        |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
        |WHERE d.doc_id % 4 = 0 ORDER BY d.doc_id""".stripMargin),
    // Round-10 conversion from rows-only: XxHashSql replays Spark's
    // seed-42 xxhash64 in HUGEINT arithmetic (fixture tokens are short
    // ASCII — the declared scope), then the same ±1-per-occurrence bit
    // vote, 16-bit pigeonhole block join, and hamming ≤ 3 cut.
    "q_dedup_simhash" -> (
      s"""WITH occ AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |d AS (SELECT DISTINCT tok FROM occ),
        |${XxHashSql.hashCtes},
        |ntok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
        |  FROM occ GROUP BY 1),
        |bitsum AS (
        |  SELECT o.doc_id, g.b,
        |    CAST(sum((f.h // (1::HUGEINT << CAST(g.b AS INT))) % 2)
        |      AS BIGINT) AS c1
        |  FROM occ o JOIN f3 f USING (tok), generate_series(0, 63) g(b)
        |  GROUP BY o.doc_id, g.b),
        |sig AS (
        |  SELECT s.doc_id,
        |    sum(CASE WHEN 2 * s.c1 > n.nt
        |        THEN (1::HUGEINT << CAST(s.b AS INT))
        |        ELSE 0::HUGEINT END) AS us
        |  FROM bitsum s JOIN ntok n USING (doc_id)
        |  GROUP BY s.doc_id),
        |ssig AS (
        |  SELECT doc_id, ${XxHashSql.toSigned("us")} AS simhash
        |  FROM sig),
        |blocks AS (
        |  SELECT doc_id, simhash, g.blk,
        |    CAST((${XxHashSql.toUnsigned("simhash")}
        |      // (1::HUGEINT << CAST(g.blk * 16 AS INT))) % 65536
        |      AS BIGINT) AS blkval
        |  FROM ssig, generate_series(0, 3) g(blk))
        |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |FROM blocks x JOIN blocks y
        |  ON x.blk = y.blk AND x.blkval = y.blkval
        |    AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |ORDER BY d1, d2""".stripMargin),
    // The kcenter-style unrolled greedy: sims rounded 4 before any
    // decision, min-struct argmax on the shared score tree.
    "q_embed_mmr" -> (
      s"""WITH p AS (SELECT embedding AS pv FROM embeddings
        |  WHERE vec_id = 0),
        |cq0 AS (
        |  SELECT e.vec_id, e.embedding,
        |    ${cosListSql("e.embedding", "p.pv")} AS cq
        |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> 0),
        |cand AS (SELECT * FROM cq0 ORDER BY cq DESC, vec_id LIMIT 16),
        |pairs AS (
        |  SELECT x.vec_id AS i, y.vec_id AS j,
        |    ${cosListSql("x.embedding", "y.embedding")} AS sim
        |  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id),
        |ch1 AS (
        |  SELECT vec_id, CAST(1 AS BIGINT) AS rank, cq,
        |    0.0 AS redundancy, round(0.7 * cq, 4) AS mmr_score
        |  FROM cand ORDER BY cq DESC, vec_id LIMIT 1),
        |all1 AS (SELECT * FROM ch1),""".stripMargin
        + "\n" + (2 to 5).map(mmrRoundSql).mkString(",\n") + "\n"
        + """SELECT vec_id, rank, cq, redundancy, mmr_score
        |FROM all5 ORDER BY rank""".stripMargin),
    // Explicit double-precision formula on both sides (NOT DuckDB's
    // list_cosine_similarity, which computes in float32): float inputs are
    // cast to double element-wise, summed sequentially, rounded to 4 dp.
    "q_sim_topk" ->
      s"""WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |    ${cosListSql("e.embedding", "p.pv")} AS cos_sim
        |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> 0)
        |SELECT vec_id, label, cos_sim FROM scored
        |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin,
    // Two-stage composition: the BM25 twin verbatim as a CTE (one
    // source of truth for the retrieval arithmetic), then q_sim_topk's
    // explicit double-precision cosine formula over the retrieved set.
    "q_search_rerank" -> (
      s"""WITH bm AS (${graft.operators.TextQueries.oracle("q_text_bm25")}),
        |p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT bm.doc_id, bm.score,
        |    ${cosListSql("e.embedding", "p.pv")} AS cos_sim
        |  FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id
        |  CROSS JOIN p)
        |SELECT doc_id, score, cos_sim,
        |  CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
        |    AS BIGINT) AS rnk
        |FROM scored ORDER BY rnk""".stripMargin),
    "q_dedup_embed" ->
      s"""WITH scored AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    a.label AS label1, b.label AS label2,
        |    ${cosListSql("a.embedding", "b.embedding")} AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT v1, v2, label1, label2, cos_sim FROM scored
        |WHERE cos_sim >= 0.4 ORDER BY v1, v2""".stripMargin,
    // Quantization is floor arithmetic only (`floor(x·127/scale + 0.5)`)
    // so no round-half mode can diverge; `scale` is emitted as the raw
    // double (identical max-of-abs on both engines); error aggregates are
    // rounded 6dp to absorb last-ulp summation drift.
    "q_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, label, v,
        |    list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM v),
        |q AS (
        |  SELECT vec_id, label, v, scale,
        |    CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS den
        |  FROM sc),
        |qv AS (
        |  SELECT vec_id, label, v, scale, den,
        |    list_transform(v,
        |      x -> CAST(floor(x / den * 127 + 0.5) AS BIGINT)) AS qarr
        |  FROM q),
        |e AS (
        |  SELECT vec_id, label, scale, qarr,
        |    list_transform(range(1, len(v) + 1),
        |      i -> abs(v[i] - qarr[i]::DOUBLE * den / 127)) AS err
        |  FROM qv)
        |SELECT vec_id, label, scale,
        |  CAST(len(list_filter(qarr, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        |  round(list_max(err), 6) AS max_err,
        |  round(list_sum(err) / len(err), 6) AS mean_err
        |FROM e ORDER BY vec_id""".stripMargin,
    // Window-function twin of the bounded-heap aggregator: same rounded
    // cosine (explicit double formula, like q_sim_topk's), row_number
    // over (cos DESC, vec_id) — the tiebreak the aggregator's total
    // order replicates.
    "q_sim_batch_topk" ->
      s"""WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pv
        |  FROM embeddings WHERE vec_id % 997 = 0),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    ${cosListSql("e.embedding", "p.pv")} AS cos_sim
        |  FROM embeddings e CROSS JOIN p
        |  WHERE e.vec_id <> p.probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_sim DESC, vec_id) AS rnk
        |  FROM scored)
        |SELECT probe_id, vec_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin,
    // The oracle affords the quadratic rank (q_graph_triangles' pair
    // formula); ranking is on the ROUNDED score with the neighbor-id
    // tiebreak on both sides, so the top-3 cut is identical.
    "q_embed_knn" ->
      s"""WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    ${cosListSql("a.embedding", "b.embedding")} AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |bidir AS (
        |  SELECT v1 AS vec_id, v2 AS neighbor_id, cos_sim FROM pairs
        |  UNION ALL
        |  SELECT v2, v1, cos_sim FROM pairs),
        |ranked AS (
        |  SELECT vec_id, neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM bidir)
        |SELECT vec_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3
        |ORDER BY vec_id, rnk""".stripMargin,
    // Ranks on the 6dp-rounded cosine with vec_id tiebreak (total
    // order); the ≤10 nonzero discount terms sum amid exact zeros, so
    // the only cross-engine drift is libm log2's last ulp — absorbed by
    // the 6dp rounds on dcg/idcg/ndcg.
    "q_eval_ndcg" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, label AS probe_label,
        |    embedding AS pv
        |  FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT p.probe_id, p.probe_label, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> e.embedding[i]::DOUBLE * p.pv[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(e.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(p.pv,
        |            x -> x::DOUBLE * x::DOUBLE)))), 6) AS cs,
        |    CASE WHEN e.label = p.probe_label THEN 1.0 ELSE 0.0 END
        |      AS rel
        |  FROM embeddings e CROSS JOIN p WHERE e.vec_id >= 4),
        |ranked AS (
        |  SELECT probe_id, probe_label, rel,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cs DESC, vec_id) AS rk,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY rel DESC, vec_id) AS irk
        |  FROM scored),
        |agg AS (
        |  SELECT probe_id, probe_label,
        |    round(sum(CASE WHEN rk <= 10
        |      THEN rel / log2(rk + 1) ELSE 0.0 END), 6) AS dcg,
        |    round(sum(CASE WHEN irk <= 10
        |      THEN rel / log2(irk + 1) ELSE 0.0 END), 6) AS idcg
        |  FROM ranked GROUP BY 1, 2)
        |SELECT probe_id, probe_label, dcg, idcg,
        |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 6)
        |       ELSE 0.0 END AS ndcg
        |FROM agg ORDER BY probe_id""".stripMargin,
    // Iterations unrolled as CTEs with the SAME rounding barriers the
    // Spark side applies: centroids rounded 6dp after every mean (so a
    // ~1e-13 cross-row sum-order drift can never flip an assignment),
    // assignment selected on round(dist, 9) with cid tiebreak, inertia
    // rounded 4 (cross-row sum), centroid norm a fixed-order 64-term
    // fold rounded 6.
    "q_embed_kmeans" -> {
      def assign(src: String, cent: String, n: Int): String =
        s"""a$n AS (
           |  SELECT e.vec_id, e.v, c.cid,
           |    list_sum(list_transform(range(1, len(e.v) + 1),
           |      i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))) AS dist
           |  FROM $src e CROSS JOIN $cent c),
           |s$n AS (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY round(dist, 9), cid) AS rn FROM a$n),
           |m$n AS (SELECT vec_id, v, cid, dist FROM s$n WHERE rn = 1)"""
          .stripMargin
      def recompute(n: Int): String =
        s"""d$n AS (
           |  SELECT cid, i, round(avg(v[i]), 6) AS m
           |  FROM m$n, UNNEST(range(1, len(v) + 1)) AS u(i)
           |  GROUP BY cid, i),
           |c$n AS (SELECT cid, list(m ORDER BY i) AS c FROM d$n
           |        GROUP BY cid)""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid,
         |    list_transform(v, x -> round(x, 6)) AS c
         |  FROM v WHERE vec_id < 4),
         |${assign("v", "c0", 1)},
         |${recompute(1)},
         |${assign("v", "c1", 2)},
         |${recompute(2)},
         |${assign("v", "c2", 3)},
         |census AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |    round(sum(dist), 4) AS inertia
         |  FROM m3 GROUP BY cid),
         |norms AS (
         |  SELECT cid,
         |    round(sqrt(list_sum(list_transform(c, x -> x * x))), 6)
         |      AS centroid_norm
         |  FROM c2)
         |SELECT CAST(census.cid AS BIGINT) AS cluster_id, n_vecs,
         |  inertia, centroid_norm
         |FROM census JOIN norms USING (cid)
         |ORDER BY cluster_id""".stripMargin
    },
    // The q_sim_batch_topk window twin with the label-mismatch gate in
    // the scored CTE; rank on the rounded cosine with vec_id tiebreak.
    "q_sample_negatives" -> (
      s"""WITH p AS (
        |  SELECT vec_id AS probe_id, label AS probe_label,
        |    embedding AS pv
        |  FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT p.probe_id, p.probe_label, e.vec_id,
        |    e.label AS neg_label,
        |    ${cosListSql("p.pv", "e.embedding")} AS cos_sim
        |  FROM embeddings e CROSS JOIN p
        |  WHERE e.label <> p.probe_label),
        |ranked AS (
        |  SELECT probe_id, probe_label, vec_id, neg_label, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT probe_id, probe_label, vec_id, neg_label, cos_sim, rnk
        |FROM ranked WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin),
    // The q_ann_ivf CTE chain verbatim (same nprobe, same rounded
    // centroid ranking) overlapped against the exact window twin; both
    // top-5 cuts ride (rounded cos DESC, vec_id) total orders, so the
    // intersection count is engine-exact.
    "q_ann_recall" -> (
      s"""WITH dims AS (
        |  SELECT label, i AS pos, embedding[CAST(i AS INT)]::DOUBLE AS v
        |  FROM (SELECT label, embedding, unnest(range(1, 65)) AS i
        |        FROM embeddings)),
        |centroids AS (
        |  SELECT label AS cl, list(avg_v ORDER BY pos) AS centroid
        |  FROM (SELECT label, pos, avg(v) AS avg_v FROM dims
        |        GROUP BY 1, 2)
        |  GROUP BY label),
        |probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
        |  WHERE vec_id < 5),
        |pc AS (
        |  SELECT probe_id, pv, cl,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY ${cosListSql("pv", "centroid")} DESC, cl) AS crnk
        |  FROM probes, centroids),
        |probeclusters AS (
        |  SELECT probe_id, pv, cl FROM pc WHERE crnk <= $IvfNprobe),
        |ivfscored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    ${cosListSql("p.pv", "e.embedding")} AS cos_sim
        |  FROM probeclusters p JOIN embeddings e
        |    ON e.label = p.cl AND e.vec_id <> p.probe_id),
        |ivf AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY cos_sim DESC, vec_id) AS rnk
        |    FROM ivfscored)
        |  WHERE rnk <= 5),
        |exscored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    ${cosListSql("p.pv", "e.embedding")} AS cos_sim
        |  FROM embeddings e CROSS JOIN probes p
        |  WHERE e.vec_id <> p.probe_id),
        |ex AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY cos_sim DESC, vec_id) AS rnk
        |    FROM exscored)
        |  WHERE rnk <= 5)
        |SELECT ex.probe_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0
        |      END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 4) AS recall
        |FROM ex LEFT JOIN ivf i
        |  ON i.probe_id = ex.probe_id AND i.vec_id = ex.vec_id
        |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin),
    // The window twin: rank everything per probe on the same (rounded
    // cos DESC, vec_id) total order, take the min-rank same-label row
    // via struct-min — identical to the Spark side's argmax + strictly-
    // ahead count because the order is total.
    "q_eval_mrr" -> (
      s"""WITH p AS (
        |  SELECT vec_id AS probe_id, label AS probe_label,
        |    embedding AS pv
        |  FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
        |    ${cosListSql("p.pv", "e.embedding")} AS cos_sim
        |  FROM embeddings e CROSS JOIN p
        |  WHERE e.vec_id <> p.probe_id),
        |ranked AS (
        |  SELECT probe_id, probe_label, vec_id, label, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_sim DESC, vec_id) AS rnk
        |  FROM scored),
        |best AS (
        |  SELECT probe_id, probe_label,
        |    min(struct_pack(r := rnk, v := vec_id, c := cos_sim)) AS b
        |  FROM ranked WHERE label = probe_label
        |  GROUP BY probe_id, probe_label)
        |SELECT probe_id, probe_label, (b).v AS best_vec,
        |  (b).c AS best_cos, CAST((b).r AS BIGINT) AS first_rank,
        |  round(1.0 / (b).r, 6) AS rr
        |FROM best ORDER BY probe_id""".stripMargin),
    // Top-4 masses as EXACT unit sums on both engines (the ordered
    // list(... ORDER BY cos DESC, id) slice replays the bounded heap's
    // (score DESC, id ASC) array; round(l[i]·10⁴) recovers the same
    // integer from the same 4dp double) — an average of 4dp values
    // sits on the .xxxx5 lattice where the two engines' double
    // rounding disagrees, so no rounded average is ever emitted.
    "q_align_margin" -> (
      s"""WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
        |  WHERE vec_id < 50),
        |cands AS (
        |  SELECT vec_id, embedding AS cv FROM embeddings
        |  WHERE vec_id >= 50),
        |scored AS (
        |  SELECT probe_id, vec_id,
        |    ${cosListSql("pv", "cv")} AS cos_sim
        |  FROM probes, cands),
        |fwd AS (
        |  SELECT probe_id,
        |    (CAST(round(l[1] * 10000) AS BIGINT)
        |      + coalesce(CAST(round(l[2] * 10000) AS BIGINT), 0)
        |      + coalesce(CAST(round(l[3] * 10000) AS BIGINT), 0)
        |      + coalesce(CAST(round(l[4] * 10000) AS BIGINT), 0))
        |      AS fwd_units
        |  FROM (SELECT probe_id,
        |          list(cos_sim ORDER BY cos_sim DESC, vec_id) AS l
        |        FROM scored GROUP BY probe_id)),
        |bwd AS (
        |  SELECT vec_id,
        |    (CAST(round(l[1] * 10000) AS BIGINT)
        |      + coalesce(CAST(round(l[2] * 10000) AS BIGINT), 0)
        |      + coalesce(CAST(round(l[3] * 10000) AS BIGINT), 0)
        |      + coalesce(CAST(round(l[4] * 10000) AS BIGINT), 0))
        |      AS bwd_units
        |  FROM (SELECT vec_id,
        |          list(cos_sim ORDER BY cos_sim DESC, probe_id) AS l
        |        FROM scored GROUP BY vec_id)),
        |m AS (
        |  SELECT s.probe_id, s.vec_id, s.cos_sim,
        |    f.fwd_units, b.bwd_units,
        |    round(s.cos_sim * 2
        |      / ((f.fwd_units + b.bwd_units)::DOUBLE / 40000.0), 4)
        |      AS margin
        |  FROM scored s
        |  JOIN fwd f USING (probe_id) JOIN bwd b USING (vec_id)),
        |best AS (
        |  SELECT probe_id, vec_id, cos_sim, fwd_units, bwd_units,
        |    margin,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY margin DESC, vec_id) AS rk
        |  FROM m)
        |SELECT probe_id, vec_id AS match_id, cos_sim,
        |  fwd_units, bwd_units, margin
        |FROM best WHERE rk = 1 ORDER BY probe_id""".stripMargin),
    // Packed-BIGINT argmax: (cos-units+10⁴)·64 + (49−bench_id) is
    // non-negative, so >>6 / &63 unpack identically; cos units are
    // round(4dp-cos · 10⁴) integers — pack/unpack engine-exact.
    "q_contamination_embed" -> (
      s"""WITH b AS (
        |  SELECT vec_id AS bench_id, embedding AS bv
        |  FROM embeddings WHERE vec_id < 50),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    (CAST(round(${cosListSql("e.embedding", "b.bv")} * 10000, 0)
        |      AS BIGINT) + 10000) * 64 + (49 - b.bench_id) AS k
        |  FROM embeddings e CROSS JOIN b WHERE e.vec_id >= 50),
        |best AS (
        |  SELECT vec_id, label, max(k) AS bk FROM sc GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  49 - (bk & 63) AS best_bench,
        |  round(CAST((bk >> 6) - 10000 AS DOUBLE) / 10000.0, 4)
        |    AS max_cos,
        |  CASE WHEN (bk >> 6) - 10000 >= 4000 THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS contam
        |FROM best ORDER BY (bk >> 6) DESC, vec_id LIMIT 100""".stripMargin),
    // Same exact pair scan as the q_dedup_embed twin; thresholds
    // compare the ROUNDED 4dp cosine on both engines; counts exact.
    "q_dedup_sweep" ->
      s"""WITH scored AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    ${cosListSql("a.embedding", "b.embedding")} AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |p AS (SELECT * FROM scored WHERE cos_sim >= 0.4),
        |x AS (
        |  SELECT t.threshold, p.v1, p.v2
        |  FROM p, UNNEST([0.4, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[])
        |    AS t(threshold)
        |  WHERE p.cos_sim >= t.threshold),
        |pc AS (
        |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM x GROUP BY 1),
        |dc AS (
        |  SELECT threshold, CAST(count(DISTINCT v) AS BIGINT)
        |    AS n_docs_affected
        |  FROM (SELECT threshold, unnest([v1, v2]) AS v FROM x)
        |  GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM embeddings),
        |base AS (
        |  SELECT unnest([0.4, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[])
        |    AS threshold)
        |SELECT base.threshold,
        |  coalesce(pc.n_pairs, 0) AS n_pairs,
        |  coalesce(dc.n_docs_affected, 0) AS n_docs_affected,
        |  CASE WHEN n_corpus = 0 THEN NULL
        |    ELSE round(CAST(coalesce(dc.n_docs_affected, 0) AS DOUBLE)
        |      / CAST(n_corpus AS DOUBLE), 4) END AS affected_frac
        |FROM base LEFT JOIN pc USING (threshold)
        |  LEFT JOIN dc USING (threshold), tot
        |ORDER BY threshold""".stripMargin,
    // Lists ride the shared BM25 chain and the q_sim_topk cosine tree;
    // weights are exact decimal literals of 0.9^k; per-depth terms
    // quantized 1e-9 before the cumulative window.
    "q_eval_rbo" -> (
      graft.operators.TextQueries.bm25ScoresSql + s""",
        |la AS (
        |  SELECT doc_id, ra FROM (
        |    SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS ra
        |    FROM agg) WHERE ra <= 10),
        |p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
        |cs AS (
        |  SELECT e.vec_id, ${cosListSql("e.embedding", "p.pv")} AS c
        |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> 0),
        |lb AS (
        |  SELECT vec_id, rb FROM (
        |    SELECT vec_id, CAST(row_number() OVER (
        |      ORDER BY c DESC, vec_id) AS BIGINT) AS rb
        |    FROM cs) WHERE rb <= 10),
        |com AS (
        |  SELECT greatest(la.ra, lb.rb) AS m
        |  FROM la JOIN lb ON lb.vec_id = la.doc_id),
        |ov AS (
        |  SELECT CAST(d.d AS BIGINT) AS depth,
        |    CAST(count(com.m) AS BIGINT) AS n_overlap
        |  FROM range(1, 11) AS d(d)
        |  LEFT JOIN com ON com.m <= d.d
        |  GROUP BY 1),
        |w AS (
        |  SELECT depth, n_overlap,
        |    CASE depth ${rboWeights.zipWithIndex.map { case (w, i) =>
            s"WHEN ${i + 1} THEN CAST($w AS DOUBLE)"
          }.mkString(" ")} END AS weight
        |  FROM ov),
        |u AS (
        |  SELECT *, CAST(round((weight * CAST(n_overlap AS DOUBLE)
        |    / CAST(depth AS DOUBLE)) * 1.0e9, 0) AS BIGINT) AS tu
        |  FROM w)
        |SELECT depth, n_overlap,
        |  round(CAST(n_overlap AS DOUBLE) / CAST(depth AS DOUBLE), 6)
        |    AS agreement,
        |  weight,
        |  round(0.1 * CAST(sum(tu) OVER (ORDER BY depth
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) / 1.0e9, 6) AS rbo_cum
        |FROM u ORDER BY depth""".stripMargin),
    // Contingency/marginals exact integers; every ln term quantized
    // 1e-9 per cell before its sum; majority by min-struct (count
    // DESC, label ASC); zero-entropy corpora declare NMI NULL.
    "q_eval_cluster_purity" ->
      """WITH pts AS (
        |  SELECT CAST(4 * CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        |    + 2 * CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END
        |    + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS cluster, label
        |  FROM embeddings),
        |cont AS (
        |  SELECT cluster, label, CAST(count(*) AS BIGINT) AS n
        |  FROM pts GROUP BY 1, 2),
        |cm AS (
        |  SELECT cluster, CAST(sum(n) AS BIGINT) AS n_c,
        |    (min(struct_pack(neg := -n, lbl := label))).lbl AS maj_label,
        |    CAST(-(min(struct_pack(neg := -n, lbl := label))).neg
        |      AS BIGINT) AS n_major
        |  FROM cont GROUP BY 1),
        |lm AS (
        |  SELECT label, CAST(sum(n) AS BIGINT) AS n_j
        |  FROM cont GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cont),
        |iu AS (
        |  SELECT CAST(sum(CAST(round(
        |      (CAST(c.n AS DOUBLE) / CAST(t.nn AS DOUBLE))
        |      * ln(CAST(t.nn AS DOUBLE) * CAST(c.n AS DOUBLE)
        |        / (CAST(m.n_c AS DOUBLE) * CAST(l.n_j AS DOUBLE)))
        |      * 1.0e9, 0) AS BIGINT)) AS BIGINT) AS mi_units
        |  FROM cont c
        |  JOIN cm m ON m.cluster = c.cluster
        |  JOIN lm l ON l.label = c.label
        |  CROSS JOIN tot t),
        |hc AS (
        |  SELECT CAST(sum(CAST(round(
        |      -(CAST(n_c AS DOUBLE) / CAST(t.nn AS DOUBLE))
        |      * ln(CAST(n_c AS DOUBLE) / CAST(t.nn AS DOUBLE))
        |      * 1.0e9, 0) AS BIGINT)) AS BIGINT) AS hc_units
        |  FROM cm CROSS JOIN tot t),
        |hl AS (
        |  SELECT CAST(sum(CAST(round(
        |      -(CAST(n_j AS DOUBLE) / CAST(t.nn AS DOUBLE))
        |      * ln(CAST(n_j AS DOUBLE) / CAST(t.nn AS DOUBLE))
        |      * 1.0e9, 0) AS BIGINT)) AS BIGINT) AS hl_units
        |  FROM lm CROSS JOIN tot t),
        |pu AS (SELECT CAST(sum(n_major) AS BIGINT) AS maj_tot FROM cm)
        |SELECT cm.cluster, cm.n_c AS n, cm.maj_label, cm.n_major,
        |  round(CAST(cm.n_major AS DOUBLE) / CAST(cm.n_c AS DOUBLE), 6)
        |    AS maj_share,
        |  round(CAST(pu.maj_tot AS DOUBLE) / CAST(t.nn AS DOUBLE), 6)
        |    AS purity,
        |  round(CASE WHEN hc.hc_units = 0 OR hl.hl_units = 0 THEN NULL
        |    ELSE (CAST(iu.mi_units AS DOUBLE) / 1.0e9)
        |      / sqrt((CAST(hc.hc_units AS DOUBLE) / 1.0e9)
        |        * (CAST(hl.hl_units AS DOUBLE) / 1.0e9)) END, 6) AS nmi
        |FROM cm, tot t, iu, hc, hl, pu
        |ORDER BY cm.cluster""".stripMargin
  )

  /** Brute-force cosine top-k against one probe vector (vec_id 0): the
    * exact baseline every ANN variant is measured against. Probe is a
    * 1-row broadcast; the big side is a single map-only scan ending in
    * TakeOrderedAndProject (per-partition heaps — no global sort). */
  def simTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }

  /** The canonical RAG two-stage retrieval pipeline: lexical retrieve
    * (BM25 top-10 via [[TextQueries.textBm25]]'s deterministic probe
    * query) → semantic rerank (embedding cosine against the vec_id-0
    * query embedding). Sparse retrieval supplies recall, dense rerank
    * supplies precision — the composition every production RAG serving
    * path runs.
    *
    * Scale shape: stage 1 is `q_text_bm25`'s corpus-linear plan ending
    * in a 10-row TakeOrdered; stage 2 BROADCASTS that retrieved set
    * into the embeddings scan (equi-join on vec_id — the corpus
    * embedding table is probed in place, never shuffled or paired) and
    * the codegen'd cosine runs on k rows, not the corpus. The final
    * window rank orders k=10 rows — trivially single-partition.
    * Determinism: rank on the ROUNDED cosine (both engines sum the
    * vector sequentially — identical order) with doc_id tiebreak;
    * docs without an embedding row drop out identically in both
    * engines (inner join). */
  def searchRerank(s: SparkSession, d: String): DataFrame = {
    val bm = TextQueries.textBm25(s, d)
    val e = embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"))
    val w = Window.orderBy(col("cos_sim").desc, col("doc_id"))
    e.join(broadcast(bm), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(probe))
      .select(col("doc_id"), col("score"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .orderBy("rnk")
  }

  /** Batch ANN serving: a SET of probe vectors (every 997th id — in
    * production, the incoming query batch) scored against the corpus in
    * ONE pass, exact top-5 per probe.
    *
    * The scale question this answers is per-probe top-k WITHOUT a
    * per-probe sort: `row_number().over(partitionBy(probe))` would hash
    * all n·k scored rows into k reducer partitions and SORT each — k
    * serial n-row sorts at 100 TB. Instead the native `graft_topk_by`
    * bounded-heap aggregate (graft.functions.TopKByAgg) keeps O(5)
    * primitive-array state per probe per map task and merges
    * partials, so the shuffle carries ≤ 5·P rows per probe (P = map
    * partitions), never the n·k score matrix. Probes broadcast (a query
    * batch is KBs); the corpus is scanned once, scores never
    * materialize. Ordering is on the ROUNDED score with vec_id tiebreak
    * — a total order, so the heap merge is deterministic and the
    * window-function oracle ranks identically. */
  def simBatchTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val probes = e.filter(pmod(col("vec_id"), lit(997)) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
      .groupBy("probe_id")
      .agg(call_function("graft_topk_by",
        col("cos_sim"), col("vec_id"), lit(5)).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"), col("t.id").as("vec_id"),
        col("t.score").as("cos_sim"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs — the exact variant. Kept as
    * the oracle-checked baseline; at 100 TB the same output is produced by
    * LSH/IVF candidate pruning (see q_ann_ivf / q_sim_pairs_lsh) with this
    * as the verify step. */
  def dedupEmbed(s: SparkSession, d: String): DataFrame =
    embedPairs(s, d).orderBy("v1", "v2")

  /** Exact k-NN graph (k = 3) over the embedding corpus — the index
    * construction that completes the serving family (`q_sim_topk` serves
    * ONE probe, `q_sim_batch_topk` a probe batch; graph-based ANN and
    * dedup clustering start from each vector's neighbor list).
    *
    * Same blocked pair scan as [[embedPairs]] (hash joins only, pair
    * space confined to K(K+1)/2 evenly-hashed groups, no threshold — a
    * kNN graph needs every pair scored once), then each unordered pair
    * feeds BOTH endpoints and the per-vector top-3 reduces through the
    * native `graft_topk_by` bounded-heap aggregate — heap partials
    * merge map-side, so the wire carries O(n·k) rows, never the O(n²)
    * score matrix, and the 2·C(n,2) feed rows never cross a typed-row
    * boundary (the former typed Aggregator's per-row decode was ~2 s
    * of this query's 3 s at sf0.1). Ranking is on the ROUNDED 4-dp
    * score with the neighbor-id tiebreak, so both engines cut the same
    * top-3. */
  def embedKnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = PairBlocks
    val bp = (for { i <- 0 until k; j <- i until k }
      yield (i, j, i * k + j)).toDF("bi", "bj", "gid")
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        pmod(xxhash64(col("vec_id")), lit(k)).cast("int").as("blk"))
    val a = e.join(broadcast(bp), col("blk") === col("bi"))
      .select(col("gid"), col("blk").as("ablk"), col("vec_id").as("v1"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.join(broadcast(bp), col("blk") === col("bj"))
      .select(col("gid").as("bgid"), col("blk").as("bblk"),
        col("vec_id").as("v2"), col("embedding").as("eb"), col("nrm").as("nb"))
    // Cross-block groups hold each unordered pair once (in hash order —
    // no id condition there, embedPairs' normalization note); diagonal
    // groups dedup mirrors with v1 < v2. Direction does not matter here:
    // every pair feeds both endpoints below.
    val scored = a.join(b,
        col("gid") === col("bgid") &&
          (col("ablk") < col("bblk") || col("v1") < col("v2")))
      .select(col("v1"), col("v2"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos_sim"))
    val both = scored
      .select(col("v1").as("probe_id"), col("v2").as("vec_id"),
        col("cos_sim"))
      .unionByName(scored.select(col("v2").as("probe_id"),
        col("v1").as("vec_id"), col("cos_sim")))
    both
      .groupBy("probe_id")
      .agg(call_function("graft_topk_by",
        col("cos_sim"), col("vec_id"), lit(3)).as("top"))
      .select(col("probe_id").as("vec_id"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos_sim"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("vec_id", "rnk")
  }

  /** Row blocks for the exact pair join: pairs of blocks (bi ≤ bj) form
    * K(K+1)/2 independent work groups — sized a little above the session's
    * shuffle-partition count so every core gets a group and AQE can pack
    * the (half-sized) diagonal groups. Grows as √(2·parallelism) on a
    * bigger cluster. */
  private val PairBlocks = 8

  /** The near-dup pair pipeline WITHOUT the declared query's final sort —
    * consumers that re-shuffle anyway (q_dedup_cc's edge build) start
    * here.
    *
    * Shape: a BLOCKED exact pair join, not a broadcast nested loop. An
    * exact cosine join at θ≈66° (cos 0.4) admits no sublinear candidate
    * pruning — the fixture's hit pairs sit just above a smooth bulk
    * distribution (measured: median hit 0.43, densest decile [0.3, 0.4)),
    * where sign-LSH recall is ~10% — so the O(n²) dot-product work is
    * irreducible; what CAN be fixed for scale is the plan shape. The
    * earlier formulation broadcast the entire table (dies at gigabytes)
    * and ran a BroadcastNestedLoopJoin (one streamed side, no
    * distribution guarantee). Here each row is hashed into one of
    * [[PairBlocks]] blocks; a tiny broadcast block-pair table (bi ≤ bj)
    * fans each row out to its group ids, and the pair space materializes
    * through a shuffled EQUI-join on the group id: O(n·K) shuffled rows,
    * no full-table broadcast, K(K+1)/2 evenly-hashed groups that spread
    * across any number of executors, and a plan made of hash joins only
    * (PlanGuardSpec asserts no BNLJ/cartesian survives here).
    *
    * Numerics per pair are unchanged: norms computed once per row before
    * the join; one dot per pair; dot/norm products are commutative in
    * double, so the normalized (v1 < v2) output is bit-identical to the
    * oracle's ordered-pair formula. The similarity threshold lives INSIDE
    * the join condition, written after the cheap block/id conjuncts:
    * conjuncts short-circuit left-to-right, so the dot runs once per
    * in-group ordered pair. */
  /** The exact cos ≥ 0.4 near-dup EDGE STORE, staged once per corpus —
    * round 10's architectural fix for the graph family's dominant cost:
    * EIGHT declared queries (q_dedup_embed, q_dedup_cc,
    * q_graph_{pagerank,kcore,triangles,modularity,linkpred,comp_sizes},
    * q_graph_label_prop) consumed [[embedPairsScan]]'s O(n²/2) blocked
    * pair join, and every one recomputed it from scratch — at 100 TB
    * that scan IS the engine's most expensive operation, and no
    * production system runs it eight times. A real near-dup pipeline
    * computes the edge set at ingest and maintains it NEXT TO the
    * corpus (the lshLayout/signature-store discipline — this is its
    * exact-edge sibling); every analysis then reads the store.
    *
    * Bucketed ×32 by v1 through
    * [[graft.sources.BucketedLayout.ensureBucketed]]. The consumers'
    * values are identical by construction — the store holds the scan's
    * own output — so every oracle hash-match is unaffected (verified at
    * three SFs), and the wire cost of the scan is paid exactly once per
    * corpus generation.
    * PlanShapeSpec's hash-joins-only guard pins [[embedPairsScan]] (the
    * computation that runs at staging time). */
  private[operators] def embedPairs(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BucketedLayout, SourceQueries}
    val pairsT = s"graft_embed_pairs_${SourceQueries.sfName(d)}"
    val root = SourceQueries.scratch(d, "pairs_layout")
    BucketedLayout.ensureBucketed(s, root, "v1",
      Seq(s"$d/embeddings.parquet"),
      BucketedLayout.Table(pairsT, "v1", 32, s"$root/pairs")(
        () => embedPairsScan(s, d)))
    s.table(pairsT)
  }

  private[graft] def embedPairsScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = PairBlocks
    // Block-pair groups (bi ≤ bj): K(K+1)/2 rows — broadcast hash join.
    val bp = (for { i <- 0 until k; j <- i until k } yield (i, j, i * k + j))
      .toDF("bi", "bj", "gid")
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        pmod(xxhash64(col("vec_id")), lit(k)).cast("int").as("blk"))
    val a = e.join(broadcast(bp), col("blk") === col("bi"))
      .select(col("gid"), col("blk").as("ablk"), col("vec_id").as("v1"),
        col("label").as("label1"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val b = e.join(broadcast(bp), col("blk") === col("bj"))
      .select(col("gid").as("bgid"), col("blk").as("bblk"),
        col("vec_id").as("v2"), col("label").as("label2"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    val cosSim = round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
    // Cross-block groups (ablk < bblk) hold each unordered pair exactly
    // once — in whichever id order the hash assigned — so they keep every
    // row-pair and the output is normalized to (lo, hi) below; diagonal
    // groups dedup mirrored pairs with v1 < v2.
    val lo = col("v1") < col("v2")
    a.join(b,
        col("gid") === col("bgid") &&
          (col("ablk") < col("bblk") || lo) && cosSim >= 0.4)
      .select(
        when(lo, col("v1")).otherwise(col("v2")).as("v1"),
        when(lo, col("v2")).otherwise(col("v1")).as("v2"),
        when(lo, col("label1")).otherwise(col("label2")).as("label1"),
        when(lo, col("label2")).otherwise(col("label1")).as("label2"),
        cosSim.as("cos_sim"))
  }

  // --- MinHash / LSH over document shingles ------------------------------

  private val MinhashK = 16 // 4 bands × 4 rows
  private val Bands = 4
  private val Rows = 4
  // 2^31-1: with this family's small a/b, a*h+b stays near 2^52 — far
  // under MinHashSigs' enforced 2^62 no-overflow bound.
  private val Prime = 2147483647L

  /** Deterministic hash-family parameters (odd multipliers, fixed seed —
    * no runtime randomness, so results are stable across runs/engines). */
  private val hashParams: Seq[(Long, Long)] =
    (0 until MinhashK).map(i => (2L * i + 1001L, 7919L * i + 131L))

  private def shingleCol(t: Column): Column = TextQueries.ngrams(t, 3)

  /** Per-document DISTINCT shingle array of a (doc_id, text) frame,
    * built entirely in the map stage (`array_distinct` instead of
    * explode → global distinct — no shuffle). The shared substrate for
    * MinHash signatures and exact-Jaccard verify. */
  private[operators] def docSets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(shingleCol(col("toks"))).as("sarr"))

  /** Stage-once MinHash/LSH layout — the signature store a production
    * dedup service maintains NEXT TO the corpus (the scaladoc promise of
    * [[dedupIncrementalLsh]]: "in production it is precomputed and
    * bucketed by sig" — now executable, not prose). Serves FOUR declared
    * queries from one ingest-time write: `q_sim_pairs_lsh`,
    * `q_dedup_incremental_lsh`, and the two graph queries riding
    * simPairsLsh's edge feed (`q_dedup_cc_lsh`, `q_graph_pagerank`).
    *
    *  - `docs` — (doc_id, sarr): per-doc distinct shingle arrays, the
    *    exact-Jaccard verify substrate, bucketed ×32 by `doc_id` (the
    *    key the verify joins probe);
    *  - `bands` — (doc_id, sig): one row per (doc, band) keyed by the
    *    band-signature hash, bucketed ×32 by `sig`, so every candidate
    *    join (self-join for pair mining, delta×base for the ingest gate)
    *    reads co-located buckets with no Exchange on the band side.
    *
    * One stage for both tables, as in TextQueries.shingleLayout: the
    * bands derive from the WRITTEN docs table (one scan, no
    * re-tokenize), so a per-table stage could pair fresh bands with a
    * stale docs table. */
  private[operators] def lshLayout(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.sources.{BucketedLayout, SourceQueries}
    val root = SourceQueries.scratch(d, "lsh_layout")
    val sf = SourceQueries.sfName(d)
    val (docsT, bandsT) = (s"graft_lsh_docs_$sf", s"graft_lsh_bands_$sf")
    BucketedLayout.ensureBucketed(s, root, "v2",
      Seq(s"$d/documents.parquet"),
      BucketedLayout.Table(docsT, "doc_id", 32, s"$root/docs")(
        () => docSets(documents(s, d))),
      BucketedLayout.Table(bandsT, "sig", 32, s"$root/bands")(
        () => bandRowsOf(s.table(docsT))))
    (s.table(docsT), s.table(bandsT))
  }

  /** The shared banded-MinHash pipeline: (doc_id, sarr) → one
    * (doc_id, sig) row per (doc, band), keyed by the band's signature
    * hash. All k min-hash values come from ONE codegen'd pass over the
    * hash array (the MinHashSigs expression — the k×(transform→array_min) HOF form
    * evaluates interpreted, k passes with a lambda frame per element);
    * the band signature is xxhash64 over (band, its 4 minhashes) — one
    * 8-byte join key instead of a built string. A 64-bit collision can
    * only ADD a candidate pair, and every candidate passes exact-Jaccard
    * verification downstream, so correctness is unaffected. */
  private[operators] def bandRowsOf(docs: DataFrame): DataFrame = {
    val base = docs.withColumn("harr",
      transform(col("sarr"), x => pmod(xxhash64(x), lit(Prime))))
    val sigArr = call_function("graft_minhash_sigs", col("harr"),
      typedlit(hashParams.map(_._1)), typedlit(hashParams.map(_._2)),
      lit(Prime))
    val sigCols = (0 until MinhashK).map(i =>
      element_at(col("mharr"), i + 1).as(s"mh$i"))
    val sigs = base.withColumn("mharr", sigArr)
      .select(col("doc_id") +: sigCols: _*)
    sigs.select(
      col("doc_id"),
      explode(array((0 until Bands).map { b =>
        xxhash64(lit(b) +: (0 until Rows).map(r =>
          col(s"mh${b * Rows + r}")): _*).as("sig")
      }: _*)).as("sig"))
  }

  /** Fuzzy near-dup pairs via banded MinHash.
    *
    * Pipeline: shingle → xxhash64 → k permutation-min signatures (one
    * aggregation) → band → self-join on (band, 4-row signature slice) →
    * distinct candidates → exact-Jaccard verification ≥ 0.5.
    *
    * The shuffle key is the band signature: pairs only materialize on a
    * collision, which is what lets this run where the O(n²) join cannot.
    * Recall is probabilistic (1-(1-s⁴)⁴) but the pipeline itself is a
    * deterministic function of its fixed hash constants, so since round
    * 10 the [[LshSql]] twin replays it engine-exactly (hash-matched
    * oracle); the property test additionally checks every
    * exact-Jaccard-≥0.8 pair from q_dedup_ngram is recovered. */
  def simPairsLsh(s: SparkSession, d: String): DataFrame =
    lshPairs(s, d)
      .select(col("d1"), col("d2"),
        NearDup.jaccard(col("common"), col("n1"), col("n2")).as("jaccard"))
      .orderBy("d1", "d2")

  /** The verified LSH near-dup EDGE STORE, staged once per corpus —
    * round 15's extension of the round-10 embedPairs discipline to the
    * LSH family (the r14 verdict's "staged graph EDGE table" ask): the
    * band self-join + exact-Jaccard verify ([[lshPairScan]]) ran per
    * query in THREE declared consumers (`q_sim_pairs_lsh`,
    * `q_dedup_cc_lsh`, and `q_dedup_keep` through dedupCcLsh), each
    * re-mining the same candidate space from the staged band table. A
    * production MinHash dedup service maintains the verified edge set
    * NEXT TO the signature store at ingest (the C4/RefinedWeb recipe's
    * pair index — new docs band, probe, verify, and APPEND their edges,
    * exactly the delta pipeline q_stream_lsh_ingest executes), so every
    * analysis reads the store instead of re-mining the corpus.
    *
    * Staged like embedPairs, through
    * [[graft.sources.BucketedLayout.ensureBucketed]]. The store holds
    * [[lshPairScan]]'s own exact counts (d1, d2, common, n1, n2), so a
    * stricter consumer cut is the same exact rule. Bucketed ×32 by d1
    * to mirror the embedPairs layout. */
  private[operators] def lshPairs(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BucketedLayout, SourceQueries}
    val pairsT = s"graft_lsh_pairs_${SourceQueries.sfName(d)}"
    val root = SourceQueries.scratch(d, "lsh_pair_counts")
    BucketedLayout.ensureBucketed(s, root, "v1",
      Seq(s"$d/documents.parquet"),
      BucketedLayout.Table(pairsT, "d1", 32, s"$root/pairs")(
        () => lshPairScan(s, d)))
    s.table(pairsT)
  }

  /** The staging-time computation behind [[lshPairs]]: band self-join
    * candidates (same bucketed-by-sig layout on both sides — bucket i
    * joins bucket i, no Exchange) through [[NearDup.verified]] at
    * Jaccard ≥ 0.5. */
  private[graft] def lshPairScan(s: SparkSession, d: String): DataFrame = {
    val (docsT, bands) = lshLayout(s, d)
    NearDup.verified(
      bands.as("x")
        .join(bands.as("y"),
          col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")),
      docsT, docsT, NearDup.LshPair)
  }

  /** Incremental near-dup ingest gate: each DELTA document (today's
    * batch: doc_id % 4 == 0, the q_dedup_incremental split convention)
    * checked for ≥0.9-Jaccard near-duplicates in the BASE corpus via the
    * banded-MinHash pipeline — the daily shape that completes the dedup
    * family: `q_dedup_incremental` is exact-fingerprint incremental,
    * `q_dedup_cc_lsh` is full-corpus fuzzy; this is FUZZY + incremental,
    * which is what a 100 TB corpus actually runs every ingest cycle
    * (nobody re-pairs the whole corpus to admit a day's crawl).
    *
    * Scale design: the candidate join is delta × band-bucket, never
    * base × base — cost scales with the DELTA. The base band table is
    * corpus-linear and write-once: it IS precomputed and bucketed by
    * `sig` ([[lshLayout]] — the staged signature store), so the daily
    * join reads co-located band buckets. Exact-Jaccard verify on each collision
    * keeps precision 1 (declared ≥0.9 matches are true full-set values);
    * recall is the 4×4 banding family's 1−(1−j⁴)⁴ ≥ 0.986 at j = 0.9.
    * Hash-matched oracle since round 10 (the [[LshSql]] delta×base
    * twin); PropertySpec additionally checks the output against
    * brute-force delta×base Jaccard on the fixture.
    *
    * Output: one row per delta doc — how many ≥0.9 base near-dups, the
    * best match (max Jaccard, min base id on ties) and its score, and
    * the admit/reject flag an ingest pipeline thresholds on. The
    * streaming twin `q_stream_lsh_ingest` runs the same [[gateVerdicts]]
    * per micro-batch and the same [[admit]] at the end. */
  def dedupIncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val (docsT, bands) = lshLayout(s, d)
    admit(s, d,
      gateVerdicts(s, d, bands.filter(col("doc_id") % 4 === 0), docsT))
  }

  /** The ingest gate for delta docs given as band rows (doc_id, sig)
    * and shingle sets (doc_id, sarr): delta × base band collisions
    * through [[NearDup.verified]] at round(Jaccard, 4) ≥ 0.9, one row
    * (doc_id, n_dup_base, best_base, best_jaccard) per flagged doc. */
  private[operators] def gateVerdicts(s: SparkSession, d: String,
      deltaBands: DataFrame, deltaSets: DataFrame): DataFrame = {
    val (docsT, bands) = lshLayout(s, d)
    NearDup.verified(
      deltaBands.select(col("doc_id").as("d1"), col("sig"))
        .join(bands.filter(col("doc_id") % 4 =!= 0)
          .select(col("doc_id").as("d2"), col("sig")), Seq("sig")),
      deltaSets, docsT, NearDup.LshGate)
      .groupBy("d1")
      .agg(count(lit(1)).as("n_dup_base"),
        max(struct(
          NearDup.jaccard(col("common"), col("n1"), col("n2")).as("j"),
          (-col("d2")).as("nb"))).as("m"))
      .select(col("d1").as("doc_id"), col("n_dup_base"),
        (-col("m.nb")).as("best_base"), col("m.j").as("best_jaccard"))
  }

  /** Every delta doc with its gate verdict; a doc without one is clean
    * (n_dup_base 0, null best match, is_dup false). */
  private[operators] def admit(s: SparkSession, d: String,
      verdicts: DataFrame): DataFrame =
    documents(s, d).select(col("doc_id")).filter(col("doc_id") % 4 === 0)
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_base"), lit(0L)).as("n_dup_base"),
        col("best_base"), col("best_jaccard"),
        col("n_dup_base").isNotNull.as("is_dup"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs: 64-bit signature per document (tf-weighted
    * majority vote per bit of xxhash64(token)), then hamming-≤3 pairs via
    * the 4×16-bit pigeonhole block join (any pair within hamming 3 must
    * agree on at least one of 4 blocks — exact recall, no enumeration of
    * the pair space). Hash-matched oracle since round 10: the twin
    * replays seed-42 xxhash64 via [[XxHashSql]] and the identical vote /
    * block / hamming arithmetic. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // The signature is a row-local single-pass expression (SimHash64 over
    // the token-hash array): no exploded rows, no aggregation state, no
    // shuffle until the block join. Evolution, both steps measured: the
    // original tf-groupBy → 64×-row bit explode → two aggregations pushed
    // ~29M rows through the shuffle at sf0.1; the explode + 64
    // conditional-sum agg replaced that; this removes even those. Vote
    // semantics identical throughout: each token OCCURRENCE votes ±1 per
    // bit (tf-weighting implicit), bit set iff the sum is positive.
    val sig = documents(s, d)
      .select(col("doc_id"),
        call_function("graft_simhash64",
          transform(toks(col("text")), t => xxhash64(t))).as("simhash"))
    val blocks = sig.select(
      col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("blk"))
      .withColumn("blkval",
        expr("shiftright(simhash, blk * 16) & 65535"))
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.blk") === col("y.blk") &&
          col("x.blkval") === col("y.blkval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(expr("x.simhash ^ y.simhash")).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("d1", "d2")
  }

  /** Clusters probed per query vector in [[annIvf]]; the recall property
    * test bounds recall by IvfNprobe/k (PropertySpec). */
  val IvfNprobe = 4

  // --- Random-projection (sign) LSH -------------------------------------

  /** Hash tables × sign bits per table for [[annRp]]. */
  val RpTables = 4
  val RpBits = 8

  /** Hyperplane dimensionality — must equal the embeddings table's vector
    * dim (FIXTURES.md); graft_vec_dot fails loudly on a mismatch. */
  val EmbeddingDim = 64

  /** Fixed random hyperplanes (seeded Gaussian draws — deterministic
    * across runs/JVMs; at deployment these constants ship with the index
    * definition, exactly like a trained k-means codebook would). */
  private val rpPlanes: IndexedSeq[Seq[Float]] = {
    val rng = new scala.util.Random(42)
    IndexedSeq.fill(RpTables * RpBits)(
      Seq.fill(EmbeddingDim)(rng.nextGaussian().toFloat))
  }

  /** IVF-style approximate nearest neighbors: partition-level pruning.
    *
    * Centroids are the per-cluster dimension means (the testdata's `label`
    * is the cluster assignment — in production this is the k-means step,
    * identical plumbing); a probe scans only its [[IvfNprobe]] nearest
    * clusters instead of the full table. At 100 TB the embeddings table is
    * bucketed/partitioned by cluster id so the pruned scan is a partition
    * prune, not a filter. Recall vs the exact baseline is property-tested
    * (PropertySpec), not oracled — pruning is the point. Note: this
    * testdata's labels are uncorrelated with cosine geometry (measured:
    * 0% of true top-5 neighbors share the probe's label), so recall here
    * ≈ nprobe/k, the pruning fraction — the property test asserts exactly
    * that bound; on real embeddings, k-means clusters track geometry and
    * recall is far higher at the same nprobe. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val dims = e.select(col("label"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val centroids = dims.groupBy("label", "pos")
      .agg(avg(col("v").cast("double")).as("cv"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("centroid"))
      .withColumnRenamed("label", "cl")
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    // nprobe nearest clusters per probe (centroid table is tiny: broadcast).
    val wc = Window.partitionBy("probe_id")
      .orderBy(col("cdist").desc, col("cl"))
    val probeClusters = probes
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", round(cosine(col("pv"), col("centroid")), 4))
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= IvfNprobe)
      .select("probe_id", "pv", "cl")
    // Scan only rows whose label is in the probe's nprobe clusters.
    val wn = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    probeClusters
      .join(e, col("label") === col("cl") &&
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("pv"), col("embedding")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(wn).cast("long"))
      .filter(col("rnk") <= 5)
      .select("probe_id", "vec_id", "cos_sim", "rnk")
      .orderBy("probe_id", "rnk")
  }

  /** Int8 symmetric per-vector quantization of the embedding column — the
    * ANN-index storage step (4× smaller vectors before IVF/LSH indexing):
    * per-vector absmax scale, `q = floor(x/scale·127 + 0.5)`, with the
    * saturation count and reconstruction-error stats surfaced per vector.
    *
    * Scale shape: pure scan-stage higher-order-function arithmetic
    * (`transform`/`zip_with`/`aggregate`/`filter` — all codegen'd), zero
    * shuffles; at 100 TB this is a map-only pass whose output is the
    * quantized index input. Determinism (SURVEY §7.5): floor arithmetic
    * only (no round-half mode), scale emitted as the raw double, error
    * aggregates rounded 6dp on both engines. */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    embeddings(s, d)
      .select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      // All-zero vectors quantize to zeros against a unit scale instead of
      // dividing by zero (NaN would poison the BIGINT cast on the oracle).
      .withColumn("den",
        when(col("scale") === 0d, lit(1.0)).otherwise(col("scale")))
      .withColumn("qarr", transform(col("v"),
        x => floor(x / col("den") * 127 + lit(0.5)).cast("long")))
      .withColumn("err", zip_with(col("v"), col("qarr"),
        (x, q) => abs(x - q.cast("double") * col("den") / 127)))
      .select(col("vec_id"), col("label"), col("scale"),
        size(filter(col("qarr"), q => abs(q) === 127)).cast("long")
          .as("n_sat"),
        round(array_max(col("err")), 6).as("max_err"),
        round(aggregate(col("err"), lit(0.0), (a, x) => a + x)
          / size(col("err")), 6).as("mean_err"))
      .orderBy("vec_id")
  }

  /** Random-projection (sign) LSH ANN — the third point of the ANN triad
    * (exact q_sim_topk, partition-pruned q_ann_ivf, hash-bucketed here):
    * each vector gets [[RpTables]] 8-bit signatures (sign of the dot
    * against fixed hyperplanes, computed by the codegen'd graft_vec_dot
    * in the scan stage); a probe's candidates are the vectors sharing ANY
    * table signature, then exact cosine ranks the candidates. The
    * shuffle key is (table, signature) — the pair space only
    * materializes inside colliding buckets, the property that makes
    * sign-LSH the web-scale near-neighbor pattern (collision probability
    * per bit is 1−θ/π, so similar vectors collide with high
    * probability while the expected bucket fraction is ~2^-bits per
    * table). Recall/candidate-fraction invariants: PropertySpec-adjacent
    * coverage in StatsGraphSpec; hash-matched oracle since round 10
    * (the planes are literals in the twin — deterministic replay). */
  /** Sign bits for [[dedupSemantic]]'s clustering (first [[SemBits]] of
    * the rpPlanes family): 4 bits → 16 clusters. The bit count is the
    * cluster-size dial — pair work is Σ nc², so more bits = smaller
    * clusters = less work and a tighter (more approximate) dedup. */
  val SemBits = 4

  /** Cosine threshold for [[dedupSemantic]] — same regime as
    * [[dedupEmbed]]'s exact baseline so the spec can compare them. */
  val SemTau = 0.4

  /** SemDeDup-shape semantic dedup: cluster with a deterministic sign
    * hash, then discard any vector that has a LOWER-id same-cluster
    * vector at cosine ≥ [[SemTau]] (the min-id canonical convention of
    * q_dedup_exact). Comparisons exist only INSIDE clusters — the join
    * key is the cluster id, so the pair space is Σ nc² and the cluster
    * count (2^SemBits) is the knob that holds nc at a fixed target as the
    * corpus grows. The published shape uses k-means clusters; the sign
    * hash is the same plumbing with a fixed codebook (and is what you run
    * BEFORE a codebook exists). Vs q_dedup_embed (exact, all-pairs
    * blocked): this trades cross-cluster recall for cluster-local cost —
    * the production default at 100 TB.
    *
    * Hash-matched oracle since round 10 (literal-plane sign clustering,
    * unrounded in-order cosine cut); CurateSpec additionally recomputes
    * the discard set via an independent max-cosine formulation and
    * checks both directions of the keep contract. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val sig = (0 until SemBits).map { b =>
      when(dot(col("embedding"), typedlit(rpPlanes(b))) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val cl = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), sig.as("cluster"))
    val dup = cl.as("a")
      .join(cl.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= SemTau)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    cl.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  def annRp(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    def tableSig(t: Int): Column =
      (0 until RpBits).map { b =>
        when(dot(col("embedding"), typedlit(rpPlanes(t * RpBits + b))) >= 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    val sigs = e.select(
      col("vec_id"), col("embedding"),
      explode(array((0 until RpTables).map { t =>
        struct(lit(t).as("t"), tableSig(t).as("sig"))
      }: _*)).as("ts"))
      .select(col("vec_id"), col("embedding"),
        col("ts.t").as("t"), col("ts.sig").as("sig"))
    val probes = sigs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        col("t").as("pt"), col("sig").as("psig"))
    val wn = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    probes.join(sigs,
      col("pt") === col("t") && col("psig") === col("sig") &&
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("pv"), col("embedding"))
      .dropDuplicates("probe_id", "vec_id")
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("pv"), col("embedding")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(wn).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy("probe_id", "rnk")
  }

  /** NDCG@10 of dense retrieval, one row per probe — the ranking-quality
    * metric every retrieval/rerank stack reports, closing the eval
    * family (q_eval_confusion = classification, q_eval_auc = scoring,
    * this = ranking). Probes = vec_id 0–3 (queries), corpus = the rest
    * (collection); graded relevance = label match; ranks on the ROUNDED
    * cosine (6dp, vec_id tiebreak — the q_search_rrf determinism trick);
    * DCG = Σ_{rank≤10} rel/log₂(rank+1) vs the ideal-order IDCG, all
    * emitted rounded 6 (libm log2 last-ulp drift absorbed, the
    * q_dq_drift_psi precedent).
    *
    * Scale shape: probes broadcast into the embeddings scan, the
    * codegen'd cosine runs per (probe, doc), and only scalar scores
    * reach the per-probe rank windows — vectors never shuffle. The rank
    * window sorts the corpus per probe; at serving scale the in-repo
    * swap is the `graft_topk_by` bounded-heap aggregate
    * (q_sim_batch_topk), since NDCG@10 only consumes the top-10 rows
    * of each ranking. */
  def evalNdcg(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"),
        col("label").as("probe_label"), col("embedding").as("pv"))
    val scored = e.filter(col("vec_id") >= 4)
      .crossJoin(broadcast(probes))
      .select(col("probe_id"), col("probe_label"), col("vec_id"),
        round(cosine(col("embedding"), col("pv")), 6).as("cs"),
        when(col("label") === col("probe_label"), 1.0).otherwise(0.0)
          .as("rel"))
    val wAct = Window.partitionBy("probe_id")
      .orderBy(col("cs").desc, col("vec_id"))
    val wIdeal = Window.partitionBy("probe_id")
      .orderBy(col("rel").desc, col("vec_id"))
    scored
      .select(col("probe_id"), col("probe_label"), col("rel"),
        row_number().over(wAct).as("rk"),
        row_number().over(wIdeal).as("irk"))
      .groupBy("probe_id", "probe_label")
      .agg(
        round(sum(when(col("rk") <= 10,
          col("rel") / log2(col("rk") + 1)).otherwise(lit(0.0))), 6)
          .as("dcg"),
        round(sum(when(col("irk") <= 10,
          col("rel") / log2(col("irk") + 1)).otherwise(lit(0.0))), 6)
          .as("idcg"))
      .withColumn("ndcg",
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6))
          .otherwise(lit(0.0)))
      .orderBy("probe_id")
  }

  /** Lloyd k-means over the embedding cloud (k=4, two deterministic
    * iterations, init = the k lowest-vec_id vectors) — the clustering
    * stage SemDeDup/cluster-balance curation runs before per-cluster
    * dedup and sampling. Every step is engine-deterministic by
    * construction: assignment = nearest centroid by squared L2 with
    * (round(dist,9), cid) tie-break (a total order), recompute = per-dim
    * member means ROUNDED 6dp — the cross-engine barrier that absorbs a
    * mean's ~1e-13 partial-sum-order drift BEFORE it can flip any
    * assignment. Census output: cluster sizes, inertia (rounded 4 — the
    * cross-row sum), centroid norms (fixed 64-term fold, rounded 6).
    *
    * Scale shape: each iteration is one corpus scan comparing every row
    * against k BROADCAST centroid rows (k·dim doubles of driver state)
    * plus one keyed mean agg; nothing quadratic, vectors never join
    * vectors. The per-dim mean here rides posexplode (64·n rows through
    * a map-side-combined agg); the in-repo 100 TB swap is the
    * LongVecSum array-partial Aggregator (q_embed_cov's — one array per
    * partition on the wire). */
  def embedKmeans(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val c0 = e.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cid"),
        transform(col("v"), x => round(x, 6)).as("c"))
    // Assign every vector to its nearest centroid; keep the raw squared
    // distance of the WINNING row for the inertia sum (selection runs
    // on the rounded copy so both engines take identical boundary
    // decisions). Selection = min over (rd, cid)-lexicographic structs —
    // one map-side-combinable agg (the q_agg_argmax discipline), never a
    // per-key window sort of the k·n candidate frame; the oracle's
    // row_number-over-(rd, cid) form picks the identical row because
    // (rd, cid) is a total order per vector.
    def assign(cent: DataFrame): DataFrame = {
      val dcol = aggregate(
        zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z)
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          struct(round(dcol, 9).as("rd"), col("cid"),
            dcol.as("dist"), col("v")).as("cand"))
        .groupBy("vec_id").agg(min("cand").as("win"))
        .select(col("vec_id"), col("win.v").as("v"),
          col("win.cid").as("cid"), col("win.dist").as("dist"))
    }
    // Per-dim member means, re-assembled dimension-ordered, rounded 6.
    def recompute(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(round(avg("x"), 6).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("i"), col("m"))))
          .as("ims"))
        .select(col("cid"), expr("transform(ims, s -> s.m)").as("c"))
    // Each centroid frame is localCheckpoint'd (k rows): without the
    // lineage cut, assign(c2)'s plan CONTAINS c2's, which contains
    // c1's, which contains assign(c0)'s — every downstream action
    // re-runs the whole iteration history (~8 corpus scans measured
    // for the 2-iteration query). Materialized centroids make each
    // iteration scan the corpus exactly once — 3 scans total, the
    // Lloyd minimum, and the shape an iterative pipeline must have at
    // 100 TB (checkpoint the TINY frame, rescan the big one).
    val c1 = recompute(assign(c0))
      .transform(Materialize("embedKmeans.centroids1"))
    val c2 = recompute(assign(c1))
      .transform(Materialize("embedKmeans.centroids2"))
    val a3 = assign(c2)
    val census = a3.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), round(sum("dist"), 4).as("inertia"))
    val norms = c2.select(col("cid"),
      round(sqrt(aggregate(col("c"), lit(0.0), (acc, x) => acc + x * x)),
        6).as("centroid_norm"))
    census.join(norms, Seq("cid"))
      .select(col("cid").cast("long").as("cluster_id"), col("n_vecs"),
        col("inertia"), col("centroid_norm"))
      .orderBy("cluster_id")
  }

  /** Maximal-marginal-relevance reranking (λ = 0.7, k = 5 over a top-16
    * candidate pool): the diversity-aware serving step that closes the
    * retrieval family — `q_sim_topk` returns the 5 MOST similar docs,
    * which for a near-dup-riddled corpus means five copies of the same
    * answer; MMR greedily picks argmax λ·sim(query) − (1−λ)·max
    * sim(chosen), trading relevance against redundancy (the standard
    * RAG-context and search-results diversifier).
    *
    * Scale design: the corpus is touched ONCE (the query-similarity
    * scan + top-16 TakeOrdered); everything after — the 16×15 pairwise
    * sim table and the 4 unrolled greedy rounds — runs on candidate-
    * pool-sized frames (the candidate self-join is a deliberate tiny-
    * frame nested loop on the PlanGuard allowlist). Determinism: all
    * sims rounded 4 BEFORE any decision, the greedy argmax a min-struct
    * on the shared score tree with vec_id tiebreak, round state
    * checkpoint-cut (the kcenter discipline); fully oracled as unrolled
    * CTE rounds. */
  def embedMmr(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"))
    val cand = e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        round(cosine(col("embedding"), col("pv")), 4).as("cq"))
      .orderBy(col("cq").desc, col("vec_id")).limit(16)
      .transform(Materialize("embedMmr.candidates"))
    val pairs = cand.select(col("vec_id").as("i"),
        col("embedding").as("ei"))
      .join(cand.select(col("vec_id").as("j"),
        col("embedding").as("ej")), col("i") =!= col("j"))
      .select(col("i"), col("j"),
        round(cosine(col("ei"), col("ej")), 4).as("sim"))
      .transform(Materialize("embedMmr.pairSims"))
    var chosen = cand
      .orderBy(col("cq").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), lit(1L).as("rank"), col("cq"),
        lit(0.0).as("redundancy"),
        round(lit(0.7) * col("cq"), 4).as("mmr_score"))
      .transform(Materialize("embedMmr.seed"))
    for (r <- 2 to 5) {
      val red = cand
        .join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(pairs, col("vec_id") === col("i"))
        .join(chosen.select(col("vec_id").as("j")), Seq("j"))
        .groupBy(col("vec_id").as("v"), col("cq").as("q"))
        .agg(max("sim").as("red"))
      val pick = red
        .withColumn("nm", -(lit(0.7) * col("q") - lit(0.3) * col("red")))
        .agg(min(struct(col("nm"), col("v"), col("q"), col("red")))
          .as("b"))
        .select(col("b.v").as("vec_id"), lit(r.toLong).as("rank"),
          col("b.q").as("cq"), col("b.red").as("redundancy"),
          round(lit(0.7) * col("b.q") - lit(0.3) * col("b.red"), 4)
            .as("mmr_score"))
        .filter(col("vec_id").isNotNull)
      chosen = chosen.union(pick).transform(Materialize("embedMmr.chosen"))
    }
    chosen.orderBy("rank")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * probe (vec_id < 4, the `q_eval_ndcg` probe set), the top-5 most
    * similar vectors whose label DIFFERS from the probe's — the pairs a
    * contrastive objective learns the most from (random negatives are
    * trivially far; hard negatives sit just across the decision
    * boundary), and the standard mining pass every embedding-model
    * curriculum runs between epochs. The emitted neg_label also tells
    * the curator WHICH wrong class confuses each anchor.
    *
    * Scale shape: the probe batch broadcasts into ONE corpus scan (the
    * `q_sim_batch_topk` shape — scores never materialize) with the
    * label-mismatch gate applied IN the scan stage, and the per-probe
    * top-5 reduces through the native `graft_topk_by` bounded heap —
    * O(5) state per probe per map task, wire carries heap partials,
    * never the score matrix. The neg label rides THROUGH the heap
    * packed into the BIGINT id (vec_id << 8 | label — labels are a
    * single byte) and unpacks after the explode, so decorating the
    * result costs zero extra passes (a join-back would stream the
    * whole corpus through a BroadcastHashJoin a second time — the
    * round-12 review finding this packing removed). Determinism: rank
    * on the ROUNDED 4dp cosine with packed-id tiebreak — vec_ids are
    * distinct, so the packed order IS the vec_id order and the window
    * twin ranks identically. */
  def sampleNegatives(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"),
        col("label").as("probe_label"), col("embedding").as("pv"))
    e.crossJoin(broadcast(probes))
      .filter(col("label") =!= col("probe_label"))
      .select(col("probe_id"), col("probe_label"),
        (shiftleft(col("vec_id"), 8) + col("label")).as("packed"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
      .groupBy("probe_id", "probe_label")
      .agg(call_function("graft_topk_by",
        col("cos_sim"), col("packed"), lit(5)).as("top"))
      .select(col("probe_id"), col("probe_label"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"), col("probe_label"),
        shiftright(col("t.id"), 8).as("vec_id"),
        col("t.id").bitwiseAND(lit(255L)).cast("int").as("neg_label"),
        col("t.score").as("cos_sim"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** ANN index-quality evaluation: recall@5 of the IVF probe
    * (`q_ann_ivf`'s nprobe-pruned search) against the EXACT top-5 for
    * the same probes — the acceptance gate every approximate index
    * ships with (an IVF that silently recalls 0.4 poisons every
    * downstream dedup/serving consumer; this measures it ON the
    * corpus, per probe, before the index is trusted). Exact side =
    * the `q_sim_batch_topk` shape (broadcast probes, one corpus scan,
    * bounded-heap top-5); approximate side = the `q_ann_ivf` pipeline
    * unchanged; recall = |IVF ∩ exact| / 5 from a left join of two
    * ≤ 25-row frames.
    *
    * Determinism: both sides rank the ROUNDED 4dp cosine with vec_id
    * tiebreak (total orders), so both top-5 sets — and hence the
    * overlap count — are engine-identical; recall is one exact
    * integer division rounded 4dp. Scale: two corpus-linear passes
    * (the index build amortizes in production; the exact pass is the
    * one-time audit cost) and a KB-sized overlap join. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val exact = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
      .groupBy("probe_id")
      .agg(call_function("graft_topk_by",
        col("cos_sim"), col("vec_id"), lit(5)).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"), col("t.id").as("vec_id"))
    val ivf = annIvf(s, d)
      .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(ivf, Seq("probe_id", "vec_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("probe_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double")
          / col("n_exact").cast("double"), 4).as("recall"))
      .orderBy("probe_id")
  }

  /** Mean-reciprocal-rank retrieval evaluation: per probe (vec_id < 4),
    * the cosine rank of the FIRST same-label vector (label = the
    * relevance proxy, the `q_eval_ndcg` convention) and its reciprocal
    * — MRR is the metric for known-item search ("how far down is the
    * first right answer?") and completes the eval family's retrieval
    * axis (NDCG grades the whole ranking, recall@k the candidate set;
    * MRR the first hit). A probe whose label has no other member drops
    * out (inner semantics, declared; every fixture label has ~n/10
    * members).
    *
    * The scale trick: the first relevant row's RANK is computed WITHOUT
    * any per-probe sort — pass 1 reduces to the best relevant (cos,
    * vec_id) struct-min per probe (map-side combined), pass 2 counts
    * rows strictly ahead of it in the (rounded cos DESC, vec_id) total
    * order. Two corpus-linear scans with KB broadcasts, no n·log n
    * anywhere, no score matrix on the wire. Determinism: both the
    * argmax and the count compare the ROUNDED 4dp cosine with vec_id
    * tiebreak — engine-identical decisions; rr is one division rounded
    * 6dp. */
  def evalMrr(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"),
        col("label").as("probe_label"), col("embedding").as("pv"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("probe_label"), col("vec_id"),
        col("label"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
    val best = scored.filter(col("label") === col("probe_label"))
      .groupBy("probe_id")
      .agg(min(struct((-col("cos_sim")).as("nc"),
        col("vec_id").as("bv"), col("cos_sim").as("bc"))).as("b"))
      .select(col("probe_id"), col("b.bv").as("best_vec"),
        col("b.bc").as("best_cos"))
    scored.join(broadcast(best), Seq("probe_id"))
      .groupBy("probe_id", "probe_label", "best_vec", "best_cos")
      .agg((sum(when(col("cos_sim") > col("best_cos")
          || (col("cos_sim") === col("best_cos")
            && col("vec_id") < col("best_vec")), 1L)
        .otherwise(0L)) + lit(1L)).cast("long").as("first_rank"))
      .select(col("probe_id"), col("probe_label"), col("best_vec"),
        col("best_cos"), col("first_rank"),
        round(lit(1.0) / col("first_rank").cast("double"), 6).as("rr"))
      .orderBy("probe_id")
  }

  /** Embedding-space benchmark contamination scan — the semantic
    * complement of `q_contamination`'s n-gram overlap (a paraphrased
    * test item shares no shingles but sits next to the test vector in
    * embedding space; every serious decontamination pass runs BOTH):
    * each train vector scored by its max cosine over the benchmark
    * set, argmax surfaced, top-100 by similarity with the cos ≥ 0.4
    * contamination flag (the `q_dedup_embed` edge threshold).
    *
    * Scale: the benchmark is vec_id < 50 — BOUNDED at every scale
    * factor (vec_ids are unique, so the filter yields ≤ 50 rows at
    * 100 TB too; the broadcast is justified by construction, not by
    * measured luck — the r11 forced-broadcast sweep sees zero growth).
    * The per-vector best is a map-side-combined MAX over ONE packed
    * BIGINT ((cos-units+10⁴)·64 + (49−bench_id)) — no per-vector sort
    * and the (train × bench) matrix never leaves the scan stage; the
    * wire carries one long per corpus vector. Determinism: cos units
    * are round(4dp-cos · 10⁴) exact integers (the `q_sample_negatives`
    * packing discipline), the key is non-negative so >>6 / &63 unpack
    * identically on both engines, and the final cut orders by
    * (unpacked units DESC, vec_id) — a total order. */
  def contaminationEmbed(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val bench = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bv"))
    val cu = round(round(cosine(col("embedding"), col("bv")), 4)
      * 10000, 0).cast("long")
    val key = (cu + 10000L) * 64L + (lit(49L) - col("bench_id"))
    val best = e.filter(col("vec_id") >= 50)
      .crossJoin(broadcast(bench))
      .select(col("vec_id"), col("label"), key.as("k"))
      .groupBy("vec_id", "label")
      .agg(max("k").as("bk"))
    val units = shiftright(col("bk"), 6) - 10000L
    best.select(col("vec_id"), col("label"),
        (lit(49L) - col("bk").bitwiseAND(63L)).as("best_bench"),
        round(units.cast("double") / 10000.0, 4).as("max_cos"),
        when(units >= 4000L, 1L).otherwise(0L).as("contam"),
        units.as("__u"))
      .orderBy(col("__u").desc, col("vec_id"))
      .limit(100)
      .drop("__u")
  }

  /** Dedup-threshold sensitivity sweep over the staged cos-edge store:
    * at each declared threshold 0.4–0.9, the surviving near-dup pair
    * count, distinct affected documents, and affected corpus fraction
    * — the "how aggressive should dedup be" decision table a curator
    * reads BEFORE committing a threshold (`q_dedup_embed` materializes
    * pairs at ONE threshold; this shows the knee of the curve, where
    * one more 0.1 stops buying coverage).
    *
    * Scale: reads the stage-once bucketed ≥0.4 edge store (KB-scale —
    * the corpus pair scan is NOT re-paid; the sweep costs one
    * edge-store read regardless of corpus size), replicates each edge
    * ×6 in the scan stage, and collapses per threshold in two
    * map-side-combined aggs + a 1-row corpus-count broadcast cross
    * (PlanGuard allowlist). Determinism: every comparison is against
    * the ROUNDED 4dp cosine (both engines cut identically); counts are
    * exact integers; thresholds are exact double literals shared by
    * both frames' join key. */
  def dedupSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val thr = array((4 to 9).map(t => lit(t / 10.0)): _*)
    val x = embedPairs(s, d)
      .select(explode(thr).as("threshold"), col("v1"), col("v2"),
        col("cos_sim"))
      .filter(col("cos_sim") >= col("threshold"))
    val pc = x.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val dc = x
      .select(col("threshold"),
        explode(array(col("v1"), col("v2"))).as("v"))
      .groupBy("threshold")
      .agg(count_distinct(col("v")).as("n_docs_affected"))
    val tot = embeddings(s, d).agg(count(lit(1)).as("n_corpus"))
    // Anchor on the declared 6-row threshold list so a threshold that
    // retains ZERO pairs still appears (n_pairs = 0) — the sweep's whole
    // point is the knee of the curve, and "this cut keeps nothing" is
    // exactly the row a reader needs; an inner join silently dropped it
    // (round-12 advice).
    val base = (4 to 9).map(t => t / 10.0).toDF("threshold")
    base.join(pc, Seq("threshold"), "left")
      .join(dc, Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        // Empty corpus: the threshold rows still exist (that is the
        // point of the left join) but 0/0 is undefined — NULL, not an
        // ANSI divide-by-zero throw.
        when(col("n_corpus") === 0L, lit(null).cast("double"))
          .otherwise(round(
            coalesce(col("n_docs_affected"), lit(0L)).cast("double")
              / col("n_corpus").cast("double"), 4)).as("affected_frac"))
      .orderBy("threshold")
  }

  /** Rank-biased overlap (RBO, p = 0.9, truncated at depth 10) between
    * the lexical BM25 top-10 and the semantic cosine top-10 for the
    * same probe — the rank-correlation-for-RANKINGS metric (Kendall /
    * Spearman need one shared item set; RBO handles disjoint-prefix
    * lists and weights the top, which is what retrieval cares about).
    * The "do my two retrievers even agree" audit read before fusing
    * them (`q_search_rrf` fuses; this measures whether fusion adds
    * diversity or redundancy).
    *
    * Determinism: both lists ride existing single-sources-of-truth
    * (the shared BM25 score chain, the q_sim_topk cosine tree), ranked
    * on ROUNDED scores with id tiebreaks; overlaps are exact integers;
    * the geometric weights are EXACT decimal literals of 0.9^k parsed
    * identically by both engines (no libm pow); per-depth terms are
    * quantized to 1e-9 units before the cumulative window. Scale: two
    * corpus-linear list builds, then every frame is ≤10 rows — the
    * declared ≤100-element non-equi depth join is the q_ts_theilsen
    * bounded-frame precedent (PlanGuard allowlist).
    *
    * ID-SPACE ASSUMPTION (stand-in data caveat, like MediaOps' decode
    * kernel): the overlap join `lb.vec_id = la.doc_id` treats the BM25
    * list's doc_ids (documents table) and the cosine list's vec_ids
    * (embeddings table) as ONE id space — true of the synthetic fixture,
    * where embeddings.vec_id IS the embedded document's doc_id. On a
    * corpus where the two id ranges diverge the overlap (and hence RBO)
    * degenerates to 0 without signalling it; a production deployment
    * must key both lists off the same table (or join embeddings back to
    * their source doc ids) before comparing. */
  def evalRbo(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Both cuts are TakeOrdered LIMITs; the rank windows run on the
    // already-cut 10-row frames (the q_sample_weighted pattern — an
    // unpartitioned window over the pre-cut score list would be a
    // corpus-scaled single partition).
    val la = graft.operators.TextQueries.bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
      .withColumn("ra", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("ra"))
    val e = embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"))
    val lb = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("pv")), 4).as("c"))
      .orderBy(col("c").desc, col("vec_id"))
      .limit(10)
      .withColumn("rb", row_number()
        .over(Window.orderBy(col("c").desc, col("vec_id")))
        .cast("long"))
      .select(col("vec_id"), col("rb"))
    val com = la.join(lb, col("vec_id") === col("doc_id"))
      .select(greatest(col("ra"), col("rb")).as("m"))
    val depths = (1 to 10).map(_.toLong).toDF("depth")
    val ov = depths.join(com, col("m") <= col("depth"), "left")
      .groupBy("depth").agg(count(col("m")).as("n_overlap"))
    val weight = rboWeights.zipWithIndex.foldLeft(lit(null)
        .cast("double")) { case (acc, (w, i)) =>
      when(col("depth") === (i + 1).toLong, lit(w.toDouble))
        .otherwise(acc)
    }
    val tu = round((col("weight") * col("n_overlap").cast("double")
      / col("depth").cast("double")) * lit(1.0e9), 0).cast("long")
    val wCum = Window.orderBy("depth")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ov.withColumn("weight", weight)
      .withColumn("tu", tu)
      .select(col("depth"), col("n_overlap"),
        round(col("n_overlap").cast("double")
          / col("depth").cast("double"), 6).as("agreement"),
        col("weight"),
        round(lit(0.1) * sum("tu").over(wCum).cast("double")
          / lit(1.0e9), 6).as("rbo_cum"))
      .orderBy("depth")
  }

  /** Clustering-quality evaluation (purity + NMI) of a DECLARED
    * partition — the sign-octant clustering (cluster = sign bits of
    * embedding dims 1–3, the `q_ann_rp` hyperplane idea at its
    * cheapest) scored against the metadata labels. Completes the
    * clustering family: `q_embed_kmeans` builds a partition,
    * `q_graph_modularity` scores one against GRAPH structure, this
    * scores one against LABELS — the "is this partition usable as a
    * sharding/curriculum key" number.
    *
    * Determinism: contingency and marginal counts are exact integers
    * off two keyed map-side-combined aggs; every entropy/MI term is an
    * exact-int-input ln quantized to 1e-9 units per cell BEFORE its
    * sum (the dsir discipline); purity is an exact-integer rational;
    * NMI = I/√(H_C·H_L) is one √ inside the 6dp barrier, declared
    * NULL when either entropy is zero (a single-cluster or
    * single-label corpus has no normalized scale). Majority label by
    * min-struct (count DESC, label ASC). Scale: after the corpus
    * collapses into the ≤8×|labels| contingency, everything is
    * windows and equi-joins on catalog-bounded frames (the 1-row
    * total rides a broadcast cross — PlanGuard allowlist). */
  def evalClusterPurity(s: SparkSession, d: String): DataFrame = {
    def bit(i: Int, v: Int) =
      when(element_at(col("embedding"), i) > 0f, v).otherwise(0)
    val cont = embeddings(s, d)
      .select((bit(1, 4) + bit(2, 2) + bit(3, 1)).cast("long")
        .as("cluster"), col("label"))
      .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      .transform(Materialize("evalClusterPurity.contingency"))
    val cm = cont.groupBy("cluster")
      .agg(sum("n").as("n_c"),
        min(struct((-col("n")).as("neg"), col("label").as("lbl")))
          .as("b"))
      .select(col("cluster"), col("n_c"),
        col("b.lbl").as("maj_label"), (-col("b.neg")).as("n_major"))
    val lm = cont.groupBy("label").agg(sum("n").as("n_j"))
    val tot = cont.agg(sum("n").as("nn"))
    val miTerm = round(
      (col("n").cast("double") / col("nn").cast("double"))
        * log(col("nn").cast("double") * col("n").cast("double")
          / (col("n_c").cast("double") * col("n_j").cast("double")))
        * lit(1.0e9), 0).cast("long")
    val iu = cont
      .join(cm.select(col("cluster"), col("n_c")), Seq("cluster"))
      .join(lm, Seq("label"))
      .crossJoin(broadcast(tot))
      .select(miTerm.as("t")).agg(sum("t").as("mi_units"))
    def entUnits(frame: DataFrame, c: String, alias: String) = frame
      .crossJoin(broadcast(tot))
      .select(round(-(col(c).cast("double") / col("nn").cast("double"))
        * log(col(c).cast("double") / col("nn").cast("double"))
        * lit(1.0e9), 0).cast("long").as("t"))
      .agg(sum("t").as(alias))
    val hc = entUnits(cm.select(col("n_c")), "n_c", "hc_units")
    val hl = entUnits(lm.select(col("n_j")), "n_j", "hl_units")
    val pu = cm.agg(sum("n_major").as("maj_tot"))
    val nmi = when(col("hc_units") === 0L || col("hl_units") === 0L,
        lit(null).cast("double"))
      .otherwise((col("mi_units").cast("double") / lit(1.0e9))
        / sqrt((col("hc_units").cast("double") / lit(1.0e9))
          * (col("hl_units").cast("double") / lit(1.0e9))))
    cm.crossJoin(broadcast(tot))
      .crossJoin(broadcast(iu))
      .crossJoin(broadcast(hc))
      .crossJoin(broadcast(hl))
      .crossJoin(broadcast(pu))
      .select(col("cluster"), col("n_c").as("n"), col("maj_label"),
        col("n_major"),
        round(col("n_major").cast("double")
          / col("n_c").cast("double"), 6).as("maj_share"),
        round(col("maj_tot").cast("double")
          / col("nn").cast("double"), 6).as("purity"),
        round(nmi, 6).as("nmi"))
      .orderBy("cluster")
  }

  /** Margin-based pair mining over the embedding corpus — the
    * bitext/parallel-pair scorer (Artetxe & Schwenk's ratio margin, the
    * CCMatrix/LASER mining criterion): raw cosine is miscalibrated by
    * HUBS — a vector with many near neighbors scores high against
    * everything — so each candidate pair's cosine is normalized by the
    * mean of the two sides' average top-4 similarity:
    * margin(x,y) = 2·cos(x,y) / (avg₄ cos(x,·) + avg₄ cos(y,·)).
    * Probe side = vec_id < 50 (the declared eval-set grain,
    * q_contamination_embed precedent); candidate side = the rest;
    * output = each probe's best candidate by (margin DESC, id).
    *
    * Scale shape: the scored frame is corpus × |probes| — bounded by
    * the DECLARED probe count, built as one broadcast-probe join
    * (q_sim_topk's shape) and staged ONCE (localCheckpoint) for its
    * three consumers. Both top-4 averages ride the native
    * [[graft.functions.TopKByAgg]] bounded heap (wire carries O(keys·4),
    * never a sort of the score column); the forward averages are
    * |probes| rows → broadcast; the backward join is keyed on the
    * candidate id — co-partitioned with the scored frame, no skew (every
    * candidate has exactly |probes| rows). At 100 TB the candidate side
    * would first be LSH/IVF-pruned (q_ann_ivf) and this margin pass runs
    * unchanged on the surviving pairs.
    *
    * Determinism: cosines are rounded 4dp BEFORE ranking (SURVEY §7.5)
    * and the heap order (score DESC, id ASC) is total. The top-4
    * masses surface as EXACT INTEGER UNIT SUMS (Σ round(cos·10⁴) over
    * the heap — engine-exact), NOT rounded averages: an average of
    * 4dp-quantized values lands on the .xxxx5 lattice half the time,
    * exactly where Spark's decimal HALF_UP and DuckDB's binary-scaled
    * round disagree (measured on first contact: both engines held the
    * identical double 0.24634999999999999 and rounded it apart). The
    * margin divides by the exact unit sum ((f+b)/4·10⁴ ≡ mean of the
    * two averages) in ONE IEEE division, then rounds — off-lattice, so
    * the boundary exposure drops back to the ordinary ~2⁻⁵² per row. */
  def alignMargin(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val scored = e.filter(col("vec_id") >= 50)
      .crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("embedding"), col("pv")), 4).as("cos_sim"))
      .transform(Materialize("alignMargin.scored"))
    def top4Units(key: String, idCol: String, out: String): DataFrame =
      scored.groupBy(key)
        .agg(call_function("graft_topk_by",
          col("cos_sim"), col(idCol), lit(4)).as("t"))
        .select(col(key),
          expr("aggregate(t, 0L, " +
            "(a, x) -> a + cast(round(x.score * 10000) as long))")
            .as(out))
    val fwd = top4Units("probe_id", "vec_id", "fwd_units")
    val bwd = top4Units("vec_id", "probe_id", "bwd_units")
    scored
      .join(broadcast(fwd), Seq("probe_id"))
      .join(bwd, Seq("vec_id"))
      .withColumn("margin",
        round(col("cos_sim") * 2
          / ((col("fwd_units") + col("bwd_units")).cast("double")
            / lit(40000.0)), 4))
      .groupBy("probe_id")
      .agg(max(struct(col("margin"),
        (-col("vec_id")).as("nid"), col("cos_sim").as("cs"),
        col("fwd_units").as("fu"), col("bwd_units").as("bu"))).as("b"))
      .select(col("probe_id"),
        (-col("b.nid")).as("match_id"),
        col("b.cs").as("cos_sim"),
        col("b.fu").as("fwd_units"),
        col("b.bu").as("bwd_units"),
        col("b.margin").as("margin"))
      .orderBy("probe_id")
  }
}
