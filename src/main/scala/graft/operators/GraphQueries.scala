package graft.operators

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables._

/** Graph-shaped dedup (SURVEY §2.8 extension): fuzzy-dedup clustering.
  *
  * Pairwise near-dup detection (q_dedup_embed / q_sim_pairs_lsh) yields
  * EDGES; an actual training-data dedup pass needs the transitive closure —
  * "keep one document per connected component of the near-dup graph". This
  * is the canonical last stage of a MinHash dedup pipeline (the
  * union-find step of e.g. the C4/RefinedWeb recipes), run here on GraphX
  * Pregel (see [[dedupCc]] for the design and the measured alternative).
  *
  * Scale design (100 TB): only edge endpoints enter the graph — a few
  * percent of the corpus at dedup thresholds — and each Pregel superstep
  * exchanges labels along edges with indexed VertexRDD joins; the driver
  * never sees label data.
  */
object GraphQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_cc" -> dedupCc _,
    "q_dedup_cc_lsh" -> dedupCcLsh _,
    "q_dedup_keep" -> dedupKeep _,
    "q_graph_pagerank" -> graphPagerank _,
    "q_graph_triangles" -> graphTriangles _,
    "q_graph_comp_sizes" -> graphCompSizes _,
    "q_graph_label_prop" -> graphLabelProp _,
    "q_graph_linkpred" -> graphLinkpred _,
    "q_graph_kcore" -> graphKcore _,
    "q_graph_modularity" -> graphModularity _,
    "q_graph_assortativity" -> graphAssortativity _
  )

  /** The transitive-closure CTE chain (cos ≥ 0.4 edges → undirected →
    * `reach` fixpoint) shared verbatim by q_dedup_cc's oracle (per-node
    * labels) and q_graph_comp_sizes' (size histogram over the same
    * labels) — one source of truth for the closure in BOTH engines. */
  private[operators] def ccReachSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE round(
      |      list_sum(list_transform(range(1, len(a.embedding) + 1),
      |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(a.embedding,
      |            x -> x::DOUBLE * x::DOUBLE)))
      |       * sqrt(list_sum(list_transform(b.embedding,
      |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
      |und AS (SELECT v1, v2 FROM pairs
      |        UNION ALL SELECT v2, v1 FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT u.v1, r.lbl FROM reach r JOIN und u ON u.v2 = r.node)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Transitive closure as a recursive CTE: labels flow along edges until
    // fixpoint (UNION dedups, so it terminates); component = min reachable
    // id — exactly what min-label propagation converges to.
    "q_dedup_cc" -> (ccReachSql + "\n" +
      """SELECT node AS vec_id, min(lbl) AS component,
        |  CAST(node = min(lbl) AS BOOLEAN) AS keep
        |FROM reach GROUP BY node ORDER BY node""".stripMargin),
    // The same closure, aggregated twice: labels → component sizes →
    // size histogram with corpus share (window over the tiny frame).
    "q_graph_comp_sizes" -> (ccReachSql + ",\n" +
      """comp AS (
        |  SELECT node, CAST(min(lbl) AS BIGINT) AS component
        |  FROM reach GROUP BY node),
        |cs AS (
        |  SELECT component, CAST(count(*) AS BIGINT) AS comp_size
        |  FROM comp GROUP BY component),
        |h AS (
        |  SELECT comp_size, CAST(count(*) AS BIGINT) AS n_components
        |  FROM cs GROUP BY comp_size)
        |SELECT comp_size, n_components,
        |  CAST(comp_size * n_components AS BIGINT) AS n_vectors,
        |  round(CAST(comp_size * n_components AS DOUBLE)
        |    / CAST(sum(comp_size * n_components) OVER () AS DOUBLE), 6)
        |    AS share
        |FROM h ORDER BY comp_size""".stripMargin),
    // Triangles enumerated once each via the canonical id-ordered triple
    // join a<b<c (orientation-invariant, so any engine may count its own
    // way); per-node membership = each triangle contributes to all three
    // corners. Same cos ≥ 0.4 edge CTE as q_dedup_cc.
    "q_graph_triangles" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |und AS (SELECT v1 AS u, v2 AS v FROM pairs
        |        UNION ALL SELECT v2, v1 FROM pairs),
        |deg AS (SELECT u AS node, count(*) AS degree FROM und GROUP BY u),
        |tri AS (
        |  SELECT e1.v1 AS a, e1.v2 AS b, e2.v2 AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e2.v1 = e1.v2
        |  JOIN pairs e3 ON e3.v1 = e1.v1 AND e3.v2 = e2.v2),
        |tcnt AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT e.vec_id,
        |  coalesce(d.degree, 0) AS degree,
        |  coalesce(t.triangles, 0) AS triangles,
        |  CASE WHEN coalesce(d.degree, 0) >= 2
        |       THEN round(2.0 * coalesce(t.triangles, 0)
        |                  / (d.degree * (d.degree - 1)), 6)
        |       ELSE 0.0 END AS clustering
        |FROM embeddings e
        |LEFT JOIN deg d ON d.node = e.vec_id
        |LEFT JOIN tcnt t ON t.node = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    // The same cos >= 0.4 edge CTE, then the three synchronous rounds
    // UNROLLED (count-per-label -> min-struct argmax -> frontier merge):
    // both tiebreaks are total orders, so the unrolled twin replays the
    // Spark iteration decision-for-decision.
    "q_graph_label_prop" ->
      ("""WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |und AS (SELECT v1, v2 FROM pairs
        |        UNION ALL SELECT v2, v1 FROM pairs),
        |l0 AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 5 = 0 THEN label END AS lbl,
        |    CASE WHEN vec_id % 5 = 0 THEN 0 END AS rnd
        |  FROM embeddings),""".stripMargin
        + "\n" + (1 to 3).map(lpRoundSql).mkString(",\n") + "\n"
        + """SELECT vec_id, lbl AS label_final, rnd AS round_labeled,
        |  CASE WHEN rnd = 0 THEN 'seed'
        |       WHEN lbl IS NOT NULL THEN 'propagated'
        |       ELSE 'unlabeled' END AS src
        |FROM l3 ORDER BY vec_id""".stripMargin),
    // Same cos >= 0.4 edge CTE; wedges through <= 32-degree middles, the
    // Adamic-Adar terms quantized to exact 1e-6 units BEFORE the keyed
    // sum (the q_select_dsir discipline: float work ends at the degree
    // table, the pair aggregation is pure BIGINT — order-independent),
    // adjacency removed by NOT EXISTS, Jaccard an exact rational.
    "q_graph_linkpred" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |und AS (SELECT v1, v2 FROM pairs
        |        UNION ALL SELECT v2, v1 FROM pairs),
        |deg AS (SELECT v1 AS node, CAST(count(*) AS BIGINT) AS degree
        |        FROM und GROUP BY 1),
        |cand AS (
        |  SELECT x.v2 AS v1, y.v2 AS v2,
        |    CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(CAST(round(1000000.0 / ln(CAST(dz.degree AS DOUBLE)),
        |      0) AS BIGINT)) AS BIGINT) AS aa_units
        |  FROM und x
        |  JOIN und y ON y.v1 = x.v1 AND x.v2 < y.v2
        |  JOIN deg dz ON dz.node = x.v1 AND dz.degree BETWEEN 2 AND 32
        |  GROUP BY 1, 2),
        |nonadj AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
        |                    WHERE p.v1 = c.v1 AND p.v2 = c.v2))
        |SELECT n.v1, n.v2, n.cn, d1.degree AS deg1, d2.degree AS deg2,
        |  round(CAST(n.cn AS DOUBLE)
        |    / CAST(d1.degree + d2.degree - n.cn AS DOUBLE), 6) AS jaccard,
        |  round(CAST(n.aa_units AS DOUBLE) / 1000000.0, 6) AS adamic_adar
        |FROM nonadj n
        |JOIN deg d1 ON d1.node = n.v1
        |JOIN deg d2 ON d2.node = n.v2
        |ORDER BY n.v1, n.v2""".stripMargin,
    // Same cos >= 0.4 edge CTE; the six h-index rounds UNROLLED (the
    // q_graph_label_prop discipline) — pure integer arithmetic
    // throughout, so every round is engine-exact by construction.
    "q_graph_kcore" ->
      ("""WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |und AS (SELECT v1, v2 FROM pairs
        |        UNION ALL SELECT v2, v1 FROM pairs),
        |deg AS (SELECT v1 AS node, CAST(count(*) AS BIGINT) AS degree
        |        FROM und GROUP BY 1),
        |est0 AS (
        |  SELECT e.vec_id AS node,
        |    CAST(coalesce(d.degree, 0) AS BIGINT) AS est
        |  FROM embeddings e LEFT JOIN deg d ON d.node = e.vec_id),"""
        .stripMargin
        + "\n" + (1 to 6).map(kcoreRoundSql).mkString(",\n") + "\n"
        + """SELECT e.node AS vec_id,
        |  CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
        |  e.est AS coreness
        |FROM est6 e LEFT JOIN deg d ON d.node = e.node
        |ORDER BY vec_id""".stripMargin),
    // Round-10 conversion from rows-only: LshSql replays the banded
    // MinHash pipeline exactly (fixed hash constants → deterministic),
    // the ≥0.9 rounded-Jaccard edge cut, then 10 unrolled min-label
    // propagation rounds — GraphX connectedComponents' min-reachable-id
    // label contract (fixpoint measured at round 3 on sf0.1).
    "q_dedup_cc_lsh" -> (
      s"""WITH ${LshSql.prefix},
        |${LshSql.scoredCtes},
        |${LshSql.ccCtes(10)}
        |SELECT doc_id, lbl AS component, doc_id = lbl AS keep
        |FROM l10 ORDER BY doc_id""".stripMargin),
    // Round-10 conversion: the same CC labels reduced to one keeper per
    // multi-member component by (quality, −doc_id) struct-max — the
    // q_text_quality composite replayed inline.
    "q_dedup_keep" -> (
      s"""WITH ${LshSql.prefix},
        |${LshSql.scoredCtes},
        |${LshSql.ccCtes(10)},
        |q AS (
        |  SELECT doc_id,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (1 - CAST(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('a', 'the'))) AS DOUBLE)
        |          / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |g AS (
        |  SELECT l.lbl AS component, CAST(count(*) AS BIGINT) AS n_members,
        |    max(struct_pack(q := q.quality, nid := -l.doc_id)) AS m
        |  FROM l10 l JOIN q ON q.doc_id = l.doc_id
        |  GROUP BY l.lbl)
        |SELECT component, n_members,
        |  CAST(-((m).nid) AS BIGINT) AS keeper_doc_id,
        |  (m).q AS keeper_quality,
        |  CAST(n_members - 1 AS BIGINT) AS n_dropped
        |FROM g WHERE n_members > 1 ORDER BY component""".stripMargin),
    // Same cos >= 0.4 edge CTE; the ten integer-unit PageRank rounds
    // UNROLLED (the q_graph_kcore discipline) — rank state is 1e-6-scaled
    // BIGINT with truncating division only, so every round is
    // engine-exact; singletons take the 0.15 no-inlink fixed point in
    // the final left join.
    "q_graph_pagerank" ->
      ("""WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |und AS (SELECT v1, v2 FROM pairs
        |        UNION ALL SELECT v2, v1 FROM pairs),
        |deg AS (SELECT v1 AS node, CAST(count(*) AS BIGINT) AS degree
        |        FROM und GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),"""
        .stripMargin
        + "\n" + (1 to 10).map(prRoundSql).mkString(",\n") + "\n"
        + """SELECT e.vec_id,
        |  round(CAST(coalesce(r.r, 150000) AS DOUBLE) / 1000000.0, 6)
        |    AS "rank"
        |FROM embeddings e LEFT JOIN r10 r ON r.node = e.vec_id
        |ORDER BY e.vec_id""".stripMargin),
    // Same cos >= 0.4 edge CTE; intra counts / degree sums / m exact
    // integers, Q terms one shared tree quantized to 1e-6 units before
    // the cross-label total; m = 0 declared zero terms.
    // All five sufficient statistics are exact BIGINT sums; r is one
    // closed-form double tree over them — no quantization needed.
    "q_graph_assortativity" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |dir AS (
        |  SELECT v1 AS src, v2 AS dst FROM pairs
        |  UNION ALL SELECT v2, v1 FROM pairs),
        |deg AS (
        |  SELECT src AS v, CAST(count(*) AS BIGINT) AS dg
        |  FROM dir GROUP BY 1),
        |ed AS (
        |  SELECT ds.dg AS x, dd.dg AS y
        |  FROM dir
        |  JOIN deg ds ON ds.v = dir.src
        |  JOIN deg dd ON dd.v = dir.dst),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS mm,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM ed),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, (mm >> 1) AS n_edges,
        |  round(CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE), 6)
        |    AS mean_end_deg,
        |  round(CASE WHEN CAST(sxx AS DOUBLE) / CAST(mm AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE)) = 0
        |    THEN NULL
        |    ELSE (CAST(sxy AS DOUBLE) / CAST(mm AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE)))
        |      / (CAST(sxx AS DOUBLE) / CAST(mm AS DOUBLE)
        |        - (CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE))
        |          * (CAST(sx AS DOUBLE) / CAST(mm AS DOUBLE)))
        |    END, 6) AS assortativity
        |FROM m, nn""".stripMargin,
    "q_graph_modularity" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    CAST(a.label AS BIGINT) AS l1, CAST(b.label AS BIGINT) AS l2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.4),
        |intra AS (
        |  SELECT l1 AS label, CAST(count(*) AS BIGINT) AS e_c
        |  FROM pairs WHERE l1 = l2 GROUP BY 1),
        |degc AS (
        |  SELECT lab AS label, CAST(count(*) AS BIGINT) AS d_c FROM (
        |    SELECT l1 AS lab FROM pairs
        |    UNION ALL SELECT l2 FROM pairs) GROUP BY 1),
        |nodes AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM embeddings GROUP BY 1),
        |f AS (
        |  SELECT n.label, n.n_nodes,
        |    CAST(coalesce(i.e_c, 0) AS BIGINT) AS e_c,
        |    CAST(coalesce(g.d_c, 0) AS BIGINT) AS d_c
        |  FROM nodes n
        |  LEFT JOIN intra i ON i.label = n.label
        |  LEFT JOIN degc g ON g.label = n.label),
        |fm AS (
        |  SELECT *, CAST(sum(d_c) OVER () // 2 AS BIGINT) AS m FROM f),
        |q AS (
        |  SELECT *,
        |    CASE WHEN m > 0 THEN
        |      CAST(e_c AS DOUBLE) / CAST(m AS DOUBLE)
        |      - (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
        |        * (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
        |    ELSE 0.0 END AS qterm
        |  FROM fm)
        |SELECT label, n_nodes, e_c, d_c,
        |  round(qterm, 6) AS q_term,
        |  round(CAST(sum(CAST(round(1000000.0 * qterm, 0) AS BIGINT))
        |    OVER () AS BIGINT) / 1000000.0, 6) AS q_total
        |FROM q ORDER BY label""".stripMargin
  )

  /** One unrolled h-index round of the q_graph_kcore oracle: each node's
    * neighbors' round-(r−1) estimates sorted descending, h = max
    * min(rank, est), next estimate = min(previous, h) — h of an empty
    * neighborhood is 0. */
  private def kcoreRoundSql(r: Int): String =
    s"""h$r AS (
       |  SELECT v1 AS node, max(least(rn, est)) AS h FROM (
       |    SELECT u.v1, e.est,
       |      CAST(row_number() OVER (PARTITION BY u.v1
       |        ORDER BY e.est DESC, u.v2) AS BIGINT) AS rn
       |    FROM und u JOIN est${r - 1} e ON e.node = u.v2)
       |  GROUP BY v1),
       |est$r AS (
       |  SELECT p.node, CAST(least(p.est, coalesce(h.h, 0)) AS BIGINT)
       |    AS est
       |  FROM est${r - 1} p LEFT JOIN h$r h ON h.node = p.node)"""
      .stripMargin

  /** One unrolled PageRank round of the q_graph_pagerank oracle: each
    * node's round-(r−1) rank units split by truncating division over its
    * out-edges, summed over in-edges, damped in integer arithmetic —
    * identical operations to the Spark loop, so every round is
    * engine-exact. */
  private def prRoundSql(r: Int): String =
    s"""r$r AS (
       |  SELECT d.node,
       |    CAST(150000 + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
       |  FROM deg d LEFT JOIN (
       |    SELECT u.v2 AS node, sum(p.r // g.degree) AS m
       |    FROM und u
       |    JOIN r${r - 1} p ON p.node = u.v1
       |    JOIN deg g ON g.node = u.v1
       |    GROUP BY 1) s ON s.node = d.node)""".stripMargin

  /** One unrolled label-propagation round of the q_graph_label_prop
    * oracle: neighbor-label counts over round r−1's frontier, the
    * (count DESC, label ASC) argmax via min-struct, and the
    * once-labeled-stays-fixed merge. */
  private def lpRoundSql(r: Int): String =
    s"""c$r AS (
       |  SELECT u.v1, l.lbl, CAST(count(*) AS BIGINT) AS c
       |  FROM und u JOIN l${r - 1} l
       |    ON l.vec_id = u.v2 AND l.lbl IS NOT NULL
       |  GROUP BY u.v1, l.lbl),
       |a$r AS (
       |  SELECT v1 AS vec_id,
       |    (min(struct_pack(nc := -c, lbl := lbl))).lbl AS alb
       |  FROM c$r GROUP BY v1),
       |l$r AS (
       |  SELECT l.vec_id, coalesce(l.lbl, a.alb) AS lbl,
       |    coalesce(l.rnd, CASE WHEN a.alb IS NOT NULL THEN $r END) AS rnd
       |  FROM l${r - 1} l LEFT JOIN a$r a ON a.vec_id = l.vec_id)"""
      .stripMargin

  /** Connected components of the embedding near-dup graph (cosine ≥ 0.4,
    * same edge set as q_dedup_embed); every vector labeled with its
    * component's min id, `keep` marking the canonical representative.
    *
    * The closure itself runs on GraphX's Pregel `connectedComponents` —
    * the §2.10 "compose existing ops" preference applied to graphs: its
    * label semantics (min reachable VertexId) are exactly this query's
    * contract, it iterates to true convergence (no round cap to tune),
    * and its indexed VertexRDD joins make each superstep far cheaper than
    * a Catalyst join+agg round-trip. Only edge ENDPOINTS enter the graph;
    * singletons (their own component by definition) left-join back at the
    * end — at dedup thresholds the edge set is a few percent of the
    * corpus, so the iterative part runs on a small fraction of the data
    * at any scale. A DataFrame-loop formulation (min-label propagation
    * with path compression per round) was benchmarked first: the min
    * label only travels one graph hop per materialized round, making it
    * O(diameter) rounds of fixed Catalyst/job overhead — 2.5x slower at
    * sf0.1 even with multi-hop fusion. */
  /** Target edges per GraphX partition. Pregel's per-superstep cost has a
    * fixed per-partition term (a task per partition per iteration across
    * several internal RDDs) — measured here: feeding the 32-partition,
    * 920-edge pair output straight in made CC 8× slower than one
    * right-sized partition. */
  private val EdgesPerPartition = 50000L

  def dedupCc(s: SparkSession, d: String): DataFrame = {
    // Unsorted pair pipeline (the declared q_dedup_embed adds a final
    // ORDER BY this consumer would discard), MATERIALIZED once: GraphX
    // evaluates its input RDD several times (vertex derivation + Pregel),
    // and without the checkpoint each evaluation re-runs the pair join.
    // The feed is the blocked exact pair equi-join (SimilarityQueries.
    // embedPairs): distributed, broadcast-free, no nested-loop plan —
    // PlanGuardSpec asserts this query stays BNLJ/cartesian-free. The
    // exact edge set is the oracle contract here (cos ≥ 0.4 slices the
    // bulk of the pair distribution, where LSH candidate recall is ~10%
    // — measured; see embedPairs doc); [[dedupCcLsh]] is the production
    // ≥0.9-threshold LSH feed, same Pregel stage.
    ccOverPairs(s,
      SimilarityQueries.embedPairs(s, d).select("v1", "v2"),
      embeddings(s, d).select("vec_id"), "vec_id")
  }

  /** The production fuzzy-dedup shape at corpus scale: connected
    * components over BANDED-MINHASH candidate pairs at a high-similarity
    * threshold, instead of the exact all-pairs edge set.
    *
    * [[dedupCc]]'s exact feed is the oracle contract but quadratic in
    * compute; at 100 TB nobody runs that. What every large MinHash dedup
    * deployment (the C4/RefinedWeb recipe family) runs is exactly this:
    * LSH candidate generation (`q_sim_pairs_lsh`: band self-join, pair
    * space exists only inside signature-collision buckets) → exact-Jaccard
    * verify → threshold at a regime where banding recall is HIGH → one
    * Pregel connected-components pass over the surviving edges. At the
    * declared ≥0.9 threshold the 4-band × 4-row family's per-pair recall
    * is 1−(1−0.9⁴)⁴ ≈ 0.986 (vs ~10% at q_dedup_cc's 0.4-cosine regime —
    * why THAT query must stay exact), and transitive closure repairs part
    * of the residual miss: a dropped edge inside a ≥3-doc cluster still
    * lands same-component through its neighbors. The Pregel stage
    * ([[ccOverPairs]]) is shared with q_dedup_cc verbatim; only the edge
    * feed differs. Hash-matched oracle since round 10: the [[LshSql]]
    * twin replays the band pipeline and closes components with unrolled
    * min-label propagation (GraphX's min-reachable-id contract);
    * PropertySpec additionally asserts every exact-Jaccard ≥0.9 pair of
    * the fixture lands in one component. */
  def dedupCcLsh(s: SparkSession, d: String): DataFrame = {
    // Edges: the staged LSH pair store (the one simPairsLsh serves from)
    // cut at the ingest gate's rounded ≥0.9 — a true 0.89996 rounds in,
    // declared semantics. The un-ordered store skips simPairsLsh's final
    // ORDER BY, which the checkpoint inside ccOverPairs discards anyway.
    ccOverPairs(s,
      SimilarityQueries.lshPairs(s, d)
        .filter(NearDup.LshGate.keep(col("common"), col("n1"), col("n2")))
        .select("d1", "d2"),
      documents(s, d).select("doc_id"), "doc_id")
  }

  /** Near-dup cluster → canonical representative: every multi-member
    * ≥0.9-Jaccard LSH component ([[dedupCcLsh]]'s labels) reduced to ONE
    * keeper by quality argmax — the ACTION step that completes the dedup
    * pipeline. Components say WHICH docs duplicate; this says which copy
    * SURVIVES, and by the production criterion (keep the highest-quality
    * member, q_text_quality's composite score, doc_id tiebreak) rather
    * than ccOverPairs' min-id `keep` convenience flag.
    *
    * One map-side-combinable `max(struct(quality4dp, −doc_id))` per
    * component over the members (the q_agg_argmax discipline — never a
    * per-cluster window sort), then the singleton clusters drop: the
    * output is the dedup WORK LIST (keeper + how many copies it
    * absorbs).
    * StatsGraphSpec pins one keeper per cluster and keeper quality =
    * the cluster max; hash-matched oracle since round 10. */
  def dedupKeep(s: SparkSession, d: String): DataFrame = {
    val comp = dedupCcLsh(s, d).select("doc_id", "component")
    val quality = TextQueries.textQuality(s, d)
      .select(col("doc_id"), col("quality"))
    comp.join(quality, Seq("doc_id"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nid")))
          .as("m"))
      .filter(col("n_members") > 1)
      .select(col("component"), col("n_members"),
        (-col("m.nid")).as("keeper_doc_id"),
        col("m.q").as("keeper_quality"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("component")
  }

  /** Link-analysis ranking over the near-dup graph: 10 synchronous
    * PageRank rounds (reset 0.15) on the same exact cos ≥ 0.4 edge set
    * as the rest of the graph family ([[graphKcore]] / [[graphTriangles]]
    * / [[graphLinkpred]]), every vector labeled with its rank.
    *
    * Why a dedup/curation pipeline wants this: connected components says
    * WHICH vectors cluster; rank says which member is most "canonical" —
    * the best-connected node of a near-dup neighborhood (partial copies
    * and mutilated variants sit on the rim with fewer links), the same
    * centrality-as-quality idea behind Common Crawl's published harmonic
    * centrality rankings. Undirected graph → each pair feeds both
    * directions of the directed walk.
    *
    * Exactness (round 8 — this was the graph family's last rows-only
    * member): rank state is EXACT 1e-6-scaled BIGINT units, not floats —
    * r₀ = 10⁶, each round r' = 150000 + (85·Σ_{u→v} (r(u) div deg(u)))
    * div 100, pure integer truncating division throughout, so every
    * round is engine-exact by construction and the DuckDB twin simply
    * unrolls the same 10 rounds (the `q_graph_kcore` discipline; GraphX
    * `staticPageRank`'s double accumulation — the round-7 shape — had no
    * SQL twin). The floor-division mass leak — up to 1 unit (1e-6 of
    * rank) per IN-EDGE per round, so a node of in-degree d can run up
    * to d×1e-6 below true PageRank per round and a high-degree hub
    * accumulates the most drift — is the DECLARED semantics:
    * determinism outranks the last units of normalization here, and
    * engine-exactness is unaffected (both engines truncate
    * identically).
    *
    * Scale design: only edge ENDPOINTS enter the iterative stage (the
    * rim of the corpus at near-dup thresholds); per-round state is O(1)
    * integers per vertex, each round one keyed join + map-side-combined
    * sum, lineage cut per round (localCheckpoint, the k-means
    * discipline). Singletons never enter the iteration and take the
    * no-inlink fixed point 0.15 in the final broadcast-right join. */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = SimilarityQueries.embedPairs(s, d).select("v1", "v2")
      .transform(Materialize("graphPagerank.pairs"))
    // The edge list is pre-partitioned on the join key ONCE (the
    // checkpointed LogicalRDD carries its partitioning), so the ten
    // per-round contribution joins add no exchange on the edge side.
    val und = pairs.union(pairs.select(col("v2"), col("v1")))
      .repartition(col("v1")).transform(Materialize("graphPagerank.edges"))
    // State carries (node, degree, r) together: degree rides along so
    // the outbox is a pure projection, not a per-round join.
    var state = und.groupBy(col("v1").as("node"))
      .agg(count(lit(1)).as("degree"))
      .withColumn("r", lit(1000000L))
    for (round <- 1 to 10) {
      // Outbox: each node's per-edge contribution (exact truncating
      // division); inbox: map-side-combined integer sum over in-edges.
      val contrib = und.join(state
          .select(col("node").as("v1"), expr("r div degree").as("c")),
          Seq("v1"))
        .groupBy(col("v2").as("node")).agg(sum("c").as("m"))
      state = state.drop("r").join(contrib, Seq("node"), "left")
        .select(col("node"), col("degree"), (lit(150000L) +
          expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("r"))
      // Lineage cut every SECOND round: one materialization amortizes
      // two rounds of plan (each job's fixed cost dominated this query's
      // bench profile at 10 cuts), while the uncut half stays a bounded
      // two-round plan — never an exponentially growing lineage.
      if (round % 2 == 0)
        state = state.transform(Materialize("graphPagerank.state"))
    }
    embeddings(s, d).select("vec_id")
      .join(state.select(col("node").as("vec_id"), col("r")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        round(coalesce(col("r"), lit(150000L)).cast("double")
          / 1000000.0, 6).as("rank"))
      .orderBy("vec_id")
  }

  /** Local clustering structure of the near-dup graph: per-vector degree,
    * triangle membership count, and local clustering coefficient
    * 2T/(d(d−1)) over the same exact cos ≥ 0.4 edge set as q_dedup_cc.
    *
    * Why a dedup pipeline wants this: components say WHICH docs cluster;
    * the clustering coefficient says HOW a cluster hangs together. A
    * near-dup component whose members form a near-clique (coefficient → 1)
    * is one document in n copies — safe to collapse to any representative;
    * a low-coefficient, chain-shaped component is transitive drift (A≈B,
    * B≈C, A≉C) where collapsing to one doc loses real variants. That
    * triangle-density distinction is exactly what the coefficient
    * measures, cheaply, before anyone re-reads the texts.
    *
    * Scale design: the standard degree-ordered orientation bounds the
    * wedge join — every edge is directed from its lower-(degree, id)
    * endpoint to the higher, so each vertex's out-degree is O(√m) on any
    * graph and the oriented wedge self-join generates O(m^1.5) candidate
    * rows total instead of Σd(v)² (a hub of degree h spawns h² wedges
    * un-oriented, but ~0 oriented: nearly all its edges point INTO it).
    * Every step is a hash equi-join / map-side-combined agg on key
    * columns — no broadcast of the edge set, no nested loop; each
    * triangle is found exactly once (its unique all-out corner) and
    * fanned to its three members with one explode. */
  def graphTriangles(s: SparkSession, d: String): DataFrame =
    trianglesOverPairs(s,
      SimilarityQueries.embedPairs(s, d).select("v1", "v2"),
      embeddings(s, d).select("vec_id"), "vec_id")

  /** The shared triangle stage: degree-ordered wedge counting over a
    * canonical (lo < hi) undirected pair list, results joined back onto
    * the full vertex universe (absent/low-degree vertices report 0).
    *
    * @param pairs    two LongType columns, one row per undirected edge,
    *                 first column id < second (canonical form)
    * @param vertices one LongType id column, the full universe to label
    * @param idCol    the vertex id column name (also the output key) */
  private[graft] def trianglesOverPairs(s: SparkSession,
      pairs: DataFrame, vertices: DataFrame, idCol: String): DataFrame = {
    // The pair pipeline feeds the degree agg, the orientation join and
    // the closing-edge join — materialize it once, like ccOverPairs.
    val canon = pairs.toDF("lo", "hi")
      .transform(Materialize("trianglesOverPairs.pairs"))
    val und = canon.union(canon.select(col("hi"), col("lo")))
      .toDF("node", "peer")
    val deg = und.groupBy("node").agg(count(lit(1)).as("degree"))
    // Orient each edge lower-(degree, id) → higher. Ties cannot survive:
    // (degree, id) is a total order because ids are distinct.
    val oriented = canon
      .join(deg.select(col("node").as("lo"), col("degree").as("dlo")), "lo")
      .join(deg.select(col("node").as("hi"), col("degree").as("dhi")), "hi")
      .select(
        when(col("dlo") < col("dhi") ||
            (col("dlo") === col("dhi") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("src"),
        when(col("dlo") < col("dhi") ||
            (col("dlo") === col("dhi") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("dst"))
    // Wedges from each source's O(√m) out-neighborhood; the dst1 < dst2
    // id-order halves the wedge space and matches canon's edge form, so
    // the closing edge is a single equi-join probe.
    val w1 = oriented.select(col("src"), col("dst").as("w1"))
    val w2 = oriented.select(col("src"), col("dst").as("w2"))
    val wedges = w1.join(w2, "src").filter(col("w1") < col("w2"))
    val tris = wedges.join(canon,
      wedges("w1") === canon("lo") && wedges("w2") === canon("hi"))
      .select(explode(array(col("src"), col("w1"), col("w2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    vertices
      .join(deg.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .join(tris.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(coalesce(col("degree"), lit(0L)) >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(idCol)
  }

  /** The shared Pregel stage: connected components over an undirected
    * pair list, labels joined back onto the full vertex universe (absent
    * vertices are their own singleton component), `keep` = is the
    * component's min-id representative.
    *
    * @param pairs    two LongType columns, one row per undirected edge
    * @param vertices one LongType id column, the full universe to label
    * @param idCol    the vertex id column name (also the output key) */
  /** The Pregel CC stage alone: (idCol, component) labels for the edge
    * ENDPOINT nodes only (a few percent of the corpus at dedup
    * thresholds), checkpointed. Factored out of [[ccOverPairs]] so
    * consumers that don't need the full vertex universe
    * ([[graphCompSizes]]) can skip the corpus-wide left join. */
  private[operators] def ccLabels(s: SparkSession, pairs: DataFrame,
      idCol: String): DataFrame = {
    // Edge pipeline MATERIALIZED once: GraphX evaluates its input RDD
    // several times (vertex derivation + Pregel), and without the
    // checkpoint each evaluation re-runs the upstream candidate join.
    val edges = pairs.toDF("src", "dst")
      .transform(Materialize("ccLabels.edges"))
    val nEdges = edges.count() // free on the checkpointed blocks
    val parts = math.max(1L, (nEdges + EdgesPerPartition - 1) /
      EdgesPerPartition).toInt
    // GraphX treats edges as undirected for CC (messages flow both ways);
    // each pair enters once. coalesce only ever reduces partitions.
    val edgeRdd = edges.rdd.coalesce(parts)
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph.fromEdges(edgeRdd, (),
      edgeStorageLevel = StorageLevel.MEMORY_ONLY,
      vertexStorageLevel = StorageLevel.MEMORY_ONLY)
    val spark = s
    import spark.implicits._
    val cc = graph.connectedComponents()
    // Materialize the labels, then release the Pregel caches eagerly —
    // ContextCleaner would get there eventually, but a long-lived session
    // (bench warm+timed, the test suites) shouldn't hold graph blocks.
    val labels = cc.vertices.toDF(idCol, "component")
      .transform(Materialize("ccLabels.labels"))
    cc.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    labels
  }

  private[operators] def ccOverPairs(s: SparkSession, pairs: DataFrame,
      vertices: DataFrame, idCol: String): DataFrame = {
    val labels = ccLabels(s, pairs, idCol)
    vertices
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .select(col(idCol), col("component"),
        (col(idCol) === col("component")).as("keep"))
      .orderBy(idCol)
  }

  /** Duplicate-cluster size distribution: histogram of [[dedupCc]]'s
    * component sizes with per-size component/vector counts and corpus
    * share — THE dedup-health dashboard number (lots of 2-clusters is
    * normal near-dup texture; one giant component means the threshold,
    * not the data, is wrong).
    *
    * Linear on top of the component labels: two KB-sized aggregations
    * over the ≤distinct-sizes frame. The cost is inherited from the
    * declared-exact CC feed; the production path reads
    * [[dedupCcLsh]]'s labels with the identical two aggs.
    *
    * Round-10 trim: the histogram is computed from the Pregel LABELS
    * alone ([[ccLabels]] — edge endpoints only) plus singleton
    * arithmetic, instead of re-joining the full vertex universe the way
    * `q_dedup_cc`'s per-node output must. Every labeled component has
    * size ≥ 2 (edges have v1 < v2, so every GraphX vertex carries an
    * edge), so the singletons are exactly the nVec − nLabeled vectors
    * the graph never saw — one histogram row, computed from two scalar
    * counts (both free: a parquet metadata count and a count over the
    * checkpointed labels), never a corpus-wide join + aggregation. The
    * share denominator is the same nVec the window sum used to
    * recompute. Hash-identical to the r9 formulation (verified at three
    * SFs). */
  def graphCompSizes(s: SparkSession, d: String): DataFrame = {
    val labels = ccLabels(s,
      SimilarityQueries.embedPairs(s, d).select("v1", "v2"), "vec_id")
    val nVec = embeddings(s, d).select("vec_id").count()
    val nLabeled = labels.count() // free on the checkpointed blocks
    val hist = labels
      .groupBy("component").agg(count(lit(1)).as("comp_size"))
      .groupBy("comp_size").agg(count(lit(1)).as("n_components"))
    val withSingles =
      if (nVec > nLabeled)
        hist.unionByName(labels.sparkSession.range(1)
          .select(lit(1L).as("comp_size"),
            lit(nVec - nLabeled).as("n_components")))
      else hist
    withSingles
      .withColumn("n_vectors", col("comp_size") * col("n_components"))
      .withColumn("share",
        round(col("n_vectors").cast("double")
          / lit(nVec).cast("double"), 6))
      .orderBy("comp_size")
  }

  /** Semi-supervised label propagation over the similarity graph — the
    * scalable cluster-labeling step after CC/SemDeDup GROUPS a corpus:
    * propagate curator decisions (license class, quality tier, language
    * family) from the audited few to the similar many. Seeds = the
    * vec_id%5 nodes with their true label; 3 synchronous rounds; an
    * unlabeled node adopts the MOST FREQUENT label among its labeled
    * neighbors, tie → min label; once labeled, fixed (frontier
    * expansion). Both rules are total orders, so every round — and
    * therefore the whole iteration — is engine-identical and fully
    * oracled as unrolled CTE rounds over the same exact cos ≥ 0.4 edge
    * set `q_dedup_cc` declares ([[dedupCcLsh]]'s banded feed is the
    * production swap, as for CC itself).
    *
    * Scale: per-round state is O(V); each round is one edge⋈label
    * equi-join + two keyed aggs on the bounded (edge × label) frame;
    * lineage cut per round (the k-means checkpoint discipline — without
    * it round r re-derives rounds 1..r−1). */
  def graphLabelProp(s: SparkSession, d: String): DataFrame = {
    val edges = SimilarityQueries.embedPairs(s, d).select("v1", "v2")
      .transform(Materialize("graphLabelProp.pairs"))
    val und = edges.unionByName(
      edges.select(col("v2").as("v1"), col("v1").as("v2")))
    var lab = embeddings(s, d).select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("label")).as("lbl"),
        when(col("vec_id") % 5 === 0, 0).as("rnd"))
      .transform(Materialize("graphLabelProp.seed"))
    for (r <- 1 to 3) {
      val nb = und
        .join(lab.filter(col("lbl").isNotNull)
          .select(col("vec_id").as("v2"), col("lbl").as("nlbl")),
          Seq("v2"))
        .groupBy("v1", "nlbl").agg(count(lit(1)).as("c"))
      val adopted = nb.groupBy("v1")
        .agg(min(struct((-col("c")).as("nc"), col("nlbl").as("lbl")))
          .as("best"))
        .select(col("v1").as("vec_id"), col("best.lbl").as("alb"))
      lab = lab.join(adopted, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("lbl"), col("alb")).as("lbl"),
          coalesce(col("rnd"),
            when(col("alb").isNotNull, r)).as("rnd"))
        .transform(Materialize("graphLabelProp.labels"))
    }
    lab.select(col("vec_id"), col("lbl").as("label_final"),
        col("rnd").as("round_labeled"),
        when(col("rnd") === 0, "seed")
          .when(col("lbl").isNotNull, "propagated")
          .otherwise("unlabeled").as("src"))
      .orderBy("vec_id")
  }

  /** Link prediction over the near-dup graph: every NON-adjacent pair
    * with ≥1 common neighbor, scored by common-neighbor count, Jaccard
    * overlap of neighborhoods, and Adamic-Adar (Σ 1/ln deg(z) over the
    * common neighbors z — rare shared neighbors weigh more than hubs).
    *
    * Why a dedup/curation pipeline wants this: a high-scoring non-edge
    * inside a near-dup neighborhood is the MISSED CANDIDATE detector —
    * two docs that share most of their near-dup neighbors but were never
    * pair-verified (LSH banding missed them, or the threshold sat just
    * above their similarity) are exactly the pairs worth a second exact
    * verify pass; the same scores are the classic "people also bought"
    * recommender primitives when the graph is behavioral.
    *
    * Scale design: wedges (a—z—b) are generated per MIDDLE z, so pair
    * work is Σ deg(z)² — bounded here by the declared deg ≤ 32 middle
    * cut (the df-cut discipline of `q_dedup_ngram`: super-hub middles
    * contribute near-zero Adamic-Adar signal, 1/ln(h), and h² wedge
    * cost; production tunes the cut, the semantics declare it). The
    * Adamic-Adar term is quantized to exact 1e-6 units per middle BEFORE
    * the keyed sum (the `q_select_dsir` discipline: float work ends at
    * the degree table, the pair aggregation is pure BIGINT, so the sum
    * is order-independent and engine-exact); Jaccard is an exact
    * rational from integer operands, computed CUT-RESPECTING: its
    * intersection is the same ≤32-degree-middle common-neighbor count
    * `cn` the wedge join emits (a shared neighbor of degree > 32 counts
    * in neither cn nor any score), while deg1/deg2 are full degrees —
    * so the declared semantics are "Jaccard over the hub-cut wedge
    * graph", not the uncut neighborhood Jaccard (identical in both
    * engines; an uncut cn would need the unbounded wedge join the
    * middle cut exists to avoid). The edge feed is [[SimilarityQueries
    * .embedPairs]] materialized ONCE (localCheckpoint — three consumers:
    * wedge gen via und, adjacency anti-join, degree table). */
  def graphLinkpred(s: SparkSession, d: String): DataFrame = {
    val pairs = SimilarityQueries.embedPairs(s, d).select("v1", "v2")
      .transform(Materialize("graphLinkpred.pairs"))
    val und = pairs.union(pairs.select(col("v2"), col("v1")))
    val deg = und.groupBy(col("v1").as("node"))
      .agg(count(lit(1)).as("degree"))
    // degree ∈ [2, 32]: a degree-1 middle cannot form a wedge, and its
    // exclusion keeps 1/ln(deg) total (ln 1 = 0 would divide by zero at
    // scan stage under ANSI, before the wedge join could discard it).
    val mid = und.select(col("v1").as("z"), col("v2").as("nbr"))
      .join(deg.filter(col("degree") >= 2 && col("degree") <= 32),
        col("z") === col("node"))
      .select(col("z"), col("nbr"),
        round(lit(1000000.0) / log(col("degree").cast("double")), 0)
          .cast("long").as("aa_unit"))
    val cand = mid.as("x")
      .join(mid.as("y"),
        col("x.z") === col("y.z") && col("x.nbr") < col("y.nbr"))
      .groupBy(col("x.nbr").as("v1"), col("y.nbr").as("v2"))
      .agg(count(lit(1)).as("cn"), sum(col("x.aa_unit")).as("aa_units"))
    val nonadj = cand.join(pairs, Seq("v1", "v2"), "left_anti")
    nonadj
      .join(deg.select(col("node").as("v1"), col("degree").as("deg1")),
        Seq("v1"))
      .join(deg.select(col("node").as("v2"), col("degree").as("deg2")),
        Seq("v2"))
      .select(col("v1"), col("v2"), col("cn"), col("deg1"), col("deg2"),
        round(col("cn").cast("double")
          / (col("deg1") + col("deg2") - col("cn")).cast("double"), 6)
          .as("jaccard"),
        round(col("aa_units").cast("double") / 1000000.0, 6)
          .as("adamic_adar"))
      .orderBy("v1", "v2")
  }

  /** k-core decomposition of the near-dup graph via the distributed
    * h-index iteration (Montresor/De Pellegrini/Miorandi-style coreness):
    * every node starts at its degree and each synchronous round lowers
    * its estimate to the h-index of its neighbors' estimates (the
    * largest h with ≥ h neighbors at ≥ h); the fixpoint is exactly the
    * core number. Six rounds are the DECLARED contract (the
    * `q_graph_label_prop` bounded-round discipline) — monotone
    * non-increasing, so extra rounds never hurt, and StatsGraphSpec
    * pins that round 6 has actually reached the serial-peel fixpoint on
    * the fixture.
    *
    * Why a dedup/curation pipeline wants this: CC says which docs
    * cluster, the clustering coefficient says how tightly — coreness
    * says WHERE the dense kernel is. A component's max-core is the
    * "every copy of everything" nucleus (collapse aggressively); its
    * low-core fringe is loosely-attached drift (review before
    * collapsing). Same triage as `q_graph_triangles`, but coreness
    * NESTS (k-core ⊇ (k+1)-core), giving a dial instead of a score.
    *
    * Scale design: per-round state is O(V) integers; each round is one
    * keyed join (neighbor estimates along edges), one per-node window
    * over deg-sized neighbor lists (partitioned by node — never global),
    * one keyed left join back. Pure integer arithmetic end-to-end, so
    * the unrolled DuckDB twin is exact, not approximately so. Round
    * lineage is cut by localCheckpoint (the k-means discipline). */
  def graphKcore(s: SparkSession, d: String): DataFrame = {
    val pairs = SimilarityQueries.embedPairs(s, d).select("v1", "v2")
      .transform(Materialize("graphKcore.pairs"))
    // Pre-partitioned ONCE on the per-round join key (v2, the neighbor
    // whose estimate flows in): the checkpointed LogicalRDD carries its
    // partitioning, and est is node-partitioned by construction after
    // round 1, so the six neighbor joins add no exchange on either side
    // — each round's only exchange is the unavoidable v1 re-key for the
    // h-index aggregation (the q_graph_pagerank round-9 template).
    val und = pairs.union(pairs.select(col("v2"), col("v1")))
      .repartition(col("v2")).transform(Materialize("graphKcore.edges"))
    val deg = und.groupBy(col("v1").as("node"))
      .agg(count(lit(1)).as("degree"))
    var est = embeddings(s, d).select(col("vec_id").as("node"))
      .join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("est"))
      .transform(Materialize("graphKcore.seed"))
    for (round <- 1 to 6) {
      val h = und.join(est.withColumnRenamed("node", "v2")
          .withColumnRenamed("est", "nest"), Seq("v2"))
        .select(col("v1"), col("nest"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("v1")
            .orderBy(col("nest").desc, col("v2"))).cast("long").as("rn"))
        .groupBy(col("v1").as("node"))
        .agg(max(least(col("rn"), col("nest"))).as("h"))
      est = est.join(h, Seq("node"), "left")
        .select(col("node"),
          least(col("est"), coalesce(col("h"), lit(0L))).as("est"))
      // Lineage cut every SECOND round (the pagerank cadence): one
      // materialization amortizes two rounds of plan; the uncut half
      // stays a bounded two-round tree, never a growing lineage.
      if (round % 2 == 0)
        est = est.transform(Materialize("graphKcore.estimates"))
    }
    est.join(deg, Seq("node"), "left")
      .select(col("node").as("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        col("est").as("coreness"))
      .orderBy("vec_id")
  }

  /** Newman modularity of the METADATA partition (the embedding `label`
    * classes) over the near-dup graph: Q = Σ_c [e_c/m − (d_c/2m)²] —
    * does the declared clustering explain the observed similarity
    * structure? High Q = near-dup edges stay inside label classes (the
    * labels are a usable dedup/sharding key); Q ≈ 0 = the similarity
    * graph ignores the labels (routing or stratifying by them would
    * split near-dup clusters across shards — the silent dedup-recall
    * killer in label-partitioned pipelines). The audit complement of
    * `q_dedup_cc`: CC DERIVES a partition from the graph, this SCORES a
    * partition someone already has.
    *
    * Exactness: intra-edge counts, label degree sums, and m are exact
    * integers; each Q term is one shared IEEE tree over exact operands,
    * terms quantized to 1e-6 units before the cross-label total (the
    * `q_select_dsir` discipline). Scale: two keyed label joins on the
    * edge list, one keyed degree agg, then everything runs on the
    * ≤#labels frame (windows over that frame, never a corpus cross). */
  def graphModularity(s: SparkSession, d: String): DataFrame = {
    val pairs = SimilarityQueries.embedPairs(s, d).select("v1", "v2")
      .transform(Materialize("graphModularity.pairs"))
    val lab = embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("lab"))
    val e = pairs
      .join(lab.select(col("vec_id").as("v1"), col("lab").as("l1")),
        Seq("v1"))
      .join(lab.select(col("vec_id").as("v2"), col("lab").as("l2")),
        Seq("v2"))
    val intra = e.filter(col("l1") === col("l2"))
      .groupBy(col("l1").as("label")).agg(count(lit(1)).as("e_c"))
    val und = pairs.union(pairs.select(col("v2"), col("v1")))
    val degC = und
      .join(lab.select(col("vec_id").as("v1"), col("lab")), Seq("v1"))
      .groupBy(col("lab").as("label")).agg(count(lit(1)).as("d_c"))
    val nodes = lab.groupBy(col("lab").as("label"))
      .agg(count(lit(1)).as("n_nodes"))
    val wAll = Window.partitionBy()
    val f = nodes
      .join(intra, Seq("label"), "left")
      .join(degC, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("e_c"),
        coalesce(col("d_c"), lit(0L)).as("d_c"))
      .withColumn("m", (sum("d_c").over(wAll) / 2).cast("long"))
    // m = 0 (an edgeless corpus) leaves Q undefined; declared as zero
    // terms — and the guard keeps the divide unreachable under ANSI.
    val qTerm = when(col("m") > 0,
      col("e_c").cast("double") / col("m").cast("double") -
        (col("d_c").cast("double") / (lit(2.0) * col("m").cast("double"))) *
        (col("d_c").cast("double") / (lit(2.0) * col("m").cast("double"))))
      .otherwise(lit(0.0))
    f.withColumn("q_units",
        round(lit(1000000.0) * qTerm, 0).cast("long"))
      .select(col("label"), col("n_nodes"), col("e_c"), col("d_c"),
        round(qTerm, 6).as("q_term"),
        round(sum("q_units").over(wAll).cast("double") / 1000000.0, 6)
          .as("q_total"))
      .orderBy("label")
  }

  /** Degree assortativity of the near-dup graph — Newman's r, the
    * Pearson correlation of endpoint degrees over the DIRECTED edge
    * list (both directions of each undirected edge): r > 0 = hub-hub
    * wiring (dup clusters of dup clusters — collapse aggressively, the
    * core is redundant); r < 0 = hub-leaf wiring (template + many
    * one-off variants — the fringe needs per-leaf review). The
    * one-number STRUCTURE summary read next to `q_graph_comp_sizes`'
    * size histogram; completes the family's global-metrics axis
    * (`q_graph_modularity` asks whether metadata explains the
    * structure, this asks what the structure is).
    *
    * Determinism: all five sufficient statistics (M, Σx, Σxy, Σx²,
    * n_nodes) are exact BIGINT sums off the degree-joined edge list —
    * no quantization needed anywhere; by the both-directions symmetry
    * Σy = Σx and Σy² = Σx², so r = (Σxy/M − (Σx/M)²)/(Σx²/M − (Σx/M)²)
    * is ONE closed-form double tree over exact integers rounded 6; a
    * regular graph's zero variance is exact in double and declares r
    * NULL via the same CASE. Scale: reads the stage-once edge store,
    * one degree agg, two keyed degree joins, one global moment agg
    * (the 1-row node count rides a broadcast cross — PlanGuard
    * allowlist). */
  def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val pairs = SimilarityQueries.embedPairs(s, d).select("v1", "v2")
    val dir = pairs.select(col("v1").as("src"), col("v2").as("dst"))
      .union(pairs.select(col("v2").as("src"), col("v1").as("dst")))
    val deg = dir.select(col("src").as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val ed = dir
      .join(deg.select(col("v").as("src"), col("dg").as("x")),
        Seq("src"))
      .join(deg.select(col("v").as("dst"), col("dg").as("y")),
        Seq("dst"))
    val m = ed.agg(count(lit(1)).as("mm"), sum("x").as("sx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val meanX = col("sx").cast("double") / col("mm").cast("double")
    val num = col("sxy").cast("double") / col("mm").cast("double") -
      meanX * meanX
    val den = col("sxx").cast("double") / col("mm").cast("double") -
      meanX * meanX
    m.crossJoin(broadcast(nn))
      .select(col("n_nodes"), shiftright(col("mm"), 1).as("n_edges"),
        round(meanX, 6).as("mean_end_deg"),
        round(when(den === 0.0, lit(null).cast("double"))
          .otherwise(num / den), 6).as("assortativity"))
  }
}
