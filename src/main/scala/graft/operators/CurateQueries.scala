package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Corpus-curation operators (SURVEY §2.8 extension rows): the
  * dataset-assembly passes a training-data pipeline runs AROUND the
  * content-level text/dedup work — split assignment, per-source caps,
  * incremental ingest dedup, and embedding-column health stats.
  *
  * Extension surface: the reference (a 113-line Kafka echo,
  * /root/reference/main.py) has no curation of any kind; these rows are
  * BASELINE.json north-star mandate ("dedup, similarity search,
  * multimodal columns, text analysis" — the pipeline these ops assemble).
  *
  * Scale design (100 TB):
  *   - `q_split_hash` is a pure row-local hash predicate (the
  *     q_sample_hash family): no shuffle, no coordination, and the split
  *     is STABLE — a document's assignment never changes as the corpus
  *     grows, which is the property that keeps eval sets uncontaminated
  *     across corpus versions;
  *   - `q_domain_cap` selects in md5-prefix order, not ingest order —
  *     the kept set per source is an unbiased deterministic sample. The
  *     keep runs on the native bounded-heap `graft_topk_by` aggregate
  *     (round-11 swap from the per-source `row_number` window, whose
  *     partition a mega-source would serialize): no task ever holds
  *     more than 10 rows per source, so source skew costs nothing;
  *   - `q_dedup_incremental` is the daily-ingest shape: cost scales with
  *     the DELTA, not the corpus. The base fingerprint set is
  *     distinct-reduced once; in production it is a bucketed-by-
  *     fingerprint index table (the q_join_bucketed layout) so only the
  *     delta shuffles, with a bloom prefilter as the cheap first pass
  *     (ScaleOpsSpec pins Spark's runtime bloom-filter injection on
  *     exactly this join shape);
  *   - `q_embed_stats` folds each vector to its norm inside the scan
  *     stage (`aggregate` HOF, codegen'd) — the only shuffle is the final
  *     per-label agg over scalar columns, never the vectors themselves.
  */
object CurateQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_hash"        -> splitHash _,
    "q_domain_cap"        -> domainCap _,
    "q_select_head"       -> selectHead _,
    "q_dedup_incremental" -> dedupIncremental _,
    "q_dedup_bloom"       -> dedupBloom _,
    "q_dq_freshness"      -> dqFreshness _,
    "q_embed_stats"       -> embedStats _,
    "q_embed_centroid"    -> embedCentroid _,
    "q_embed_outliers"    -> embedOutliers _,
    "q_profile_table"     -> profileTable _,
    "q_agg_entropy"       -> aggEntropy _,
    "q_url_normalize"     -> urlNormalize _,
    "q_dq_rules"          -> dqRules _,
    "q_select_frontier"   -> selectFrontier _,
    "q_export_shards"     -> exportShards _,
    "q_mix_temperature"   -> mixTemperature _,
    "q_select_dsir"       -> selectDsir _,
    "q_quality_classifier" -> qualityClassifier _,
    "q_export_jsonl"      -> exportJsonl _,
    "q_dq_kanon"          -> dqKanon _,
    "q_dq_ldiversity"     -> dqLdiversity _,
    "q_dq_tcloseness"     -> dqTcloseness _,
    "q_filter_blocklist"  -> filterBlocklist _,
    "q_interleave_mix"    -> interleaveMix _,
    "q_select_kcenter"    -> selectKcenter _,
    "q_select_maxcover"   -> selectMaxcover _,
    "q_sample_weighted"   -> sampleWeighted _,
    "q_mix_epochs"        -> mixEpochs _,
    "q_shard_balance"     -> shardBalance _,
    "q_filter_waterfall"  -> filterWaterfall _,
    "q_mix_dro"           -> mixDro _,
    "q_sample_replicate"  -> sampleReplicate _,
    "q_split_leakage"     -> splitLeakage _,
    "q_dataset_card"      -> datasetCard _,
    "q_ccnet_bucket"      -> ccnetBucket _,
    "q_split_temporal"    -> splitTemporal _
  )

  /** One unrolled greedy max-coverage round of the q_select_maxcover
    * oracle: exact-integer gains from a left-join conditional count
    * (zero-gain candidates stay rankable), min-struct argmax, covered
    * set accumulated by UNION. */
  private def maxcoverRoundSql(r: Int): String =
    s"""g$r AS (
       |  SELECT p.doc_id, CAST(count(CASE WHEN c.tok IS NULL THEN 1 END)
       |    AS BIGINT) AS gain
       |  FROM ptoks p LEFT JOIN cov${r - 1} c ON c.tok = p.tok
       |  WHERE p.doc_id NOT IN (SELECT doc_id FROM all${r - 1})
       |  GROUP BY 1),
       |p$r AS (
       |  SELECT min(struct_pack(ng := -gain, doc_id := doc_id,
       |    gain := gain)) AS b FROM g$r),
       |ch$r AS (
       |  SELECT (b).doc_id AS doc_id, CAST($r AS BIGINT) AS rank,
       |    (b).gain AS gain
       |  FROM p$r WHERE (b).doc_id IS NOT NULL),
       |cov$r AS (
       |  SELECT tok FROM cov${r - 1}
       |  UNION
       |  SELECT tok FROM ptoks
       |  WHERE doc_id IN (SELECT doc_id FROM ch$r)),
       |all$r AS (
       |  SELECT * FROM all${r - 1}
       |  UNION ALL
       |  SELECT c.doc_id, c.rank, c.gain,
       |    (SELECT CAST(count(*) AS BIGINT) FROM cov$r) AS covered_total
       |  FROM ch$r c)""".stripMargin

  /** q_dedup_bloom twin (round-10 conversion from rows-only): the bloom
    * is fully deterministic — fixed-seed xxhash64 keys (32-byte md5-hex
    * strings → the XXH64 STRIPE path), BloomFilterImplV2's
    * Murmur3-scattered bit positions (model verified against the real
    * filter's bit array via reflection), order-independent bit-OR — so
    * the twin reproduces every position: a delta fp "hits" iff all k of
    * its positions land in the base position set. The filter geometry
    * (numBits, k, word-rounded bitSize) is computed HERE through the
    * same Spark sketch API the query calls, then embedded as integer
    * literals — valid while the runtime nBase stays at the 8192 floor
    * (true at every fixture SF: base ≤ 3750 docs); the guard CTE NULLs
    * n_delta loudly if a bigger corpus ever outgrows it. */
  private lazy val bloomTwinSql: String = {
    val nBase = 8192L
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nBase, 0.03)
    val k = math.max(1L, math.round(numBits.toDouble / nBase * math.log(2)))
    val bitSize = ((numBits + 63) / 64) * 64
    val (mm1, mm1Last) = Murmur3Sql.hashLongCtes("ma", "items", "0", "h1u")
    val (mm2, mm2Last) = Murmur3Sql.hashLongCtes("mb", mm1Last,
      Murmur3Sql.toS32("h1u"), "h2u")
    val h1s = Murmur3Sql.toS32("h1u")
    val h2s = Murmur3Sql.toS32("h2u")
    s"""WITH fpt AS (
      |  SELECT doc_id, lang,
      |    md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
      |  FROM documents),
      |base AS (SELECT * FROM fpt WHERE doc_id % 4 <> 0),
      |delta AS (SELECT * FROM fpt WHERE doc_id % 4 = 0),
      |guard AS (
      |  SELECT CASE WHEN (SELECT count(*) * 2 FROM base) > $nBase
      |    THEN NULL ELSE 1 END AS ok),
      |dfp AS (SELECT DISTINCT fp FROM fpt),
      |${XxHashSql.hash32ByteCtes},
      |items AS (
      |  SELECT fp,
      |    CAST(h % 4294967296 AS BIGINT) AS lo,
      |    CAST(h // 4294967296 AS BIGINT) AS hi
      |  FROM xf3),
      |$mm1,
      |$mm2,
      |pos AS (
      |  SELECT fp, g.i,
      |    CASE WHEN $h1s * 2147483647 + g.i * $h2s < 0
      |      THEN -($h1s * 2147483647 + g.i * $h2s) - 1
      |      ELSE $h1s * 2147483647 + g.i * $h2s END % $bitSize AS p
      |  FROM $mm2Last, generate_series(1, $k) g(i)),
      |basebits AS (
      |  SELECT DISTINCT p.p FROM pos p JOIN base b ON b.fp = p.fp),
      |hits AS (
      |  SELECT d.doc_id, d.lang, d.fp,
      |    (SELECT count(*) FROM pos p JOIN basebits bb ON bb.p = p.p
      |     WHERE p.fp = d.fp) = $k AS bloom_hit
      |  FROM delta d),
      |exact AS (SELECT DISTINCT fp FROM base),
      |cand AS (
      |  SELECT h.lang, CAST(count(*) AS BIGINT) AS n_candidates,
      |    CAST(count(e.fp) AS BIGINT) AS n_dup
      |  FROM hits h LEFT JOIN exact e ON e.fp = h.fp
      |  WHERE h.bloom_hit GROUP BY h.lang)
      |SELECT h.lang,
      |  CAST(count(*) AS BIGINT) * (SELECT ok FROM guard) AS n_delta,
      |  CAST(count(*) FILTER (NOT h.bloom_hit) AS BIGINT) AS n_pruned,
      |  coalesce(any_value(c.n_candidates), 0) AS n_candidates,
      |  coalesce(any_value(c.n_dup), 0) AS n_dup,
      |  coalesce(any_value(c.n_candidates), 0)
      |    - coalesce(any_value(c.n_dup), 0) AS n_false_pos
      |FROM hits h LEFT JOIN cand c ON c.lang = h.lang
      |GROUP BY h.lang ORDER BY h.lang""".stripMargin
  }

  lazy val oracle: Map[String, String] = Map(
    "q_dedup_bloom" -> bloomTwinSql,
    // Per-source documentation rollup; dup flag via the same
    // (source, md5) window, all exact longs before the two roundings.
    "q_dataset_card" ->
      """WITH m AS (
        |  SELECT source, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CASE WHEN count(*) OVER (PARTITION BY source, md5(text)) > 1
        |         THEN 1 ELSE 0 END AS is_dup
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_toks) AS BIGINT) AS tok_total,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_share
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    // Per-language terciles over (chars-per-token desc, doc_id) — the
    // same total order, ntile semantics (first n mod 3 buckets take the
    // extra row) agree across engines; stats off exact long sums.
    "q_ccnet_bucket" ->
      """WITH scored AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(n_chars AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
        |  FROM documents)
        |SELECT lang,
        |  CAST(ntile AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS tok_total,
        |  round(CAST(sum(n_chars) AS DOUBLE) / sum(n_toks), 6) AS cpt
        |FROM (
        |  SELECT lang, n_chars, n_toks,
        |    ntile(3) OVER (PARTITION BY lang
        |                   ORDER BY score DESC, doc_id) AS ntile
        |  FROM scored) t
        |GROUP BY lang, ntile ORDER BY lang, bucket""".stripMargin,
    // The unrolled greedy with exact-integer gains throughout — no
    // floats anywhere in this query.
    "q_select_maxcover" -> (
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE length(tok) >= 1),
        |counts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM dt GROUP BY 1),
        |pool AS (SELECT * FROM counts
        |         ORDER BY n_tokens DESC, doc_id LIMIT 8),
        |ptoks AS (SELECT dt.doc_id, dt.tok
        |          FROM dt JOIN pool USING (doc_id)),
        |g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
        |       FROM ptoks GROUP BY 1),
        |p1 AS (
        |  SELECT min(struct_pack(ng := -gain, doc_id := doc_id,
        |    gain := gain)) AS b FROM g1),
        |ch1 AS (
        |  SELECT (b).doc_id AS doc_id, CAST(1 AS BIGINT) AS rank,
        |    (b).gain AS gain
        |  FROM p1 WHERE (b).doc_id IS NOT NULL),
        |cov1 AS (SELECT DISTINCT tok FROM ptoks
        |         WHERE doc_id IN (SELECT doc_id FROM ch1)),
        |all1 AS (
        |  SELECT c.doc_id, c.rank, c.gain,
        |    (SELECT CAST(count(*) AS BIGINT) FROM cov1) AS covered_total
        |  FROM ch1 c),""".stripMargin
        + "\n" + (2 to 4).map(maxcoverRoundSql).mkString(",\n") + "\n"
        + """SELECT a.rank, a.doc_id, p.n_tokens, a.gain, a.covered_total
        |FROM all4 a JOIN pool p USING (doc_id)
        |ORDER BY a.rank""".stripMargin),
    // Same md5 hex-prefix arithmetic as q_sample_hash: the first hex
    // nibble partitions [0,f] into train (0-b, 12/16), val (c-d, 2/16),
    // test (e-f, 2/16) — disjoint and complete by construction.
    "q_split_hash" ->
      """WITH assigned AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
        |              IN ('c', 'd') THEN 'val'
        |         WHEN substr(md5(doc_id::VARCHAR), 1, 1)
        |              IN ('e', 'f') THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM assigned GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    // The keep order is the 52-bit md5 prefix (13 hex chars — exactly
    // what the Spark side feeds graft_topk_by as a double) with doc_id
    // breaking any residual tie, so the rank order is total and
    // identical in both engines at any scale.
    "q_domain_cap" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x',
        |          substr(md5(doc_id::VARCHAR), 1, 13)) AS BIGINT),
        |        doc_id) AS rk
        |  FROM documents)
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    // Same normalization as q_dedup_exact (lower + space-collapse + trim);
    // intra-delta duplicates stay "new" by declared semantics — this op
    // dedups the delta against the BASE only (q_dedup_exact handles
    // within-batch).
    "q_dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
        |  FROM documents),
        |base AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 <> 0),
        |delta AS (SELECT * FROM fp WHERE doc_id % 4 = 0)
        |SELECT delta.lang, CAST(count(*) AS BIGINT) AS n_delta,
        |  CAST(count(base.fp) AS BIGINT) AS n_dup,
        |  CAST(count(*) - count(base.fp) AS BIGINT) AS n_new
        |FROM delta LEFT JOIN base ON delta.fp = base.fp
        |GROUP BY delta.lang ORDER BY delta.lang""".stripMargin,
    // Per-vector L2 norm with double accumulation (float→double cast is
    // exact; only the 64-term sum order differs between engines, ~1e-13
    // relative — absorbed by 4-dp rounding).
    "q_embed_stats" ->
      """WITH comp AS (
        |  SELECT vec_id, label, unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |pervec AS (
        |  SELECT vec_id, label, sqrt(sum(x * x)) AS nrm,
        |    sum(x) / 64 AS mean_comp
        |  FROM comp GROUP BY vec_id, label)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(avg(nrm), 4) AS avg_norm,
        |  round(min(nrm), 4) AS min_norm,
        |  round(max(nrm), 4) AS max_norm,
        |  round(avg(mean_comp), 4) AS avg_mean_comp
        |FROM pervec GROUP BY label ORDER BY label""".stripMargin,
    // Same decomposition (inertia = E||x||² − ||μ||²), same expression
    // trees: sqrt(Σs_d²)/n and ssq/n − Σs_d²/n²; cross-row double sums
    // drift ~1e-12 relative between engines' merge orders — absorbed by
    // the 6/4-dp rounds.
    "q_embed_centroid" ->
      """WITH persq AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |    sum(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS ssq
        |  FROM embeddings GROUP BY label),
        |dims AS (
        |  SELECT label, i, sum(embedding[i]::DOUBLE) AS sd
        |  FROM embeddings,
        |    UNNEST(range(1, len(embedding) + 1)) AS u(i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, sum(sd * sd) AS sum_sd2 FROM dims GROUP BY label)
        |SELECT p.label, p.n_vecs,
        |  round(sqrt(c.sum_sd2) / p.n_vecs, 6) AS centroid_norm,
        |  round(p.ssq / p.n_vecs
        |    - c.sum_sd2 / (p.n_vecs * p.n_vecs), 4) AS inertia
        |FROM persq p JOIN cent c ON p.label = c.label
        |ORDER BY p.label""".stripMargin,
    // Same per-dim centroid, same per-vector squared distance through
    // the identical index-ordered sum; rank on the ROUNDED distance
    // with the id tiebreak, like every similarity twin.
    "q_embed_outliers" ->
      """WITH dims AS (
        |  SELECT label, i, sum(embedding[i]::DOUBLE) AS sd,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings,
        |    UNNEST(range(1, len(embedding) + 1)) AS u(i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(sd / n ORDER BY i) AS centroid
        |  FROM dims GROUP BY label),
        |d2 AS (
        |  SELECT e.label, e.vec_id,
        |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (e.embedding[i]::DOUBLE - c.centroid[i])
        |         * (e.embedding[i]::DOUBLE - c.centroid[i]))), 4)
        |      AS dist2
        |  FROM embeddings e JOIN cent c ON e.label = c.label),
        |rk AS (
        |  SELECT label, vec_id, dist2,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY dist2 DESC, vec_id) AS rnk
        |  FROM d2)
        |SELECT CAST(label AS BIGINT) AS label, vec_id, dist2,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM rk WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin,
    // One SELECT per profiled column, same metrics as the Spark stack.
    "q_profile_table" ->
      """SELECT 'o_custkey' AS column_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(min(o_orderkey) AS VARCHAR),
        |  CAST(max(o_orderkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |  CAST(min(o_orderpriority) AS VARCHAR),
        |  CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(min(o_orderstatus) AS VARCHAR),
        |  CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |ORDER BY column_name""".stripMargin,
    // Same decomposition as the Spark side: H = ln(N) − Σ nᵢ·ln nᵢ / N
    // over exact integer counts; Gini from the exact Σ nᵢ². The ln sum
    // has one term per source (a handful) — ulp-level drift only, well
    // inside the 4dp rounding.
    "q_agg_entropy" ->
      """WITH cnt AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |g AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(sum(n * n) AS BIGINT) AS s2,
        |    sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS slog
        |  FROM cnt GROUP BY lang)
        |SELECT lang, n_docs, n_sources,
        |  round(ln(CAST(n_docs AS DOUBLE))
        |    - slog / CAST(n_docs AS DOUBLE), 4) AS entropy,
        |  CASE WHEN n_sources > 1 THEN
        |    round((ln(CAST(n_docs AS DOUBLE))
        |      - slog / CAST(n_docs AS DOUBLE))
        |      / ln(CAST(n_sources AS DOUBLE)), 4)
        |  END AS entropy_norm,
        |  round(1.0 - CAST(s2 AS DOUBLE)
        |    / CAST(n_docs * n_docs AS DOUBLE), 4) AS gini
        |FROM g ORDER BY lang""".stripMargin,
    // Same planted raw URL and normalization pipeline as the Spark side.
    "q_url_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || source || '.Example.COM:443/path/' ||
        |    doc_id || '/?b=' || (doc_id % 7) ||
        |    '&utm_source=feed&a=1&utm_campaign=x' AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?]+)', 1)),
        |      '^www\.', ''), ':443$', '') AS host,
        |    regexp_replace(
        |      regexp_extract(url, '^[A-Za-z]+://[^/?]+(/[^?]*)', 1),
        |      '/+$', '') AS path,
        |    list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
        |      p -> p NOT LIKE 'utm_%')) AS params
        |  FROM raw)
        |SELECT doc_id,
        |  scheme || '://' || host || path ||
        |    CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END
        |    AS canon_url,
        |  host, CAST(len(params) AS BIGINT) AS n_params
        |FROM parts ORDER BY doc_id""".stripMargin,
    // Each rule family is one scan (conditional counts) or one keyed
    // shuffle (pk grouping / fk left join); `count(*) FILTER` keeps every
    // count BIGINT on the DuckDB side (sum() would widen to HUGEINT and
    // fail the driver's dtype-strict hash).
    // Same per-stream max / corpus max / lag derivation; all epoch-µs
    // integers, the staleness cut an exact comparison.
    "q_dq_freshness" ->
      """WITH per AS (
        |  SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    max(epoch_us(ts)) AS last_ts_us
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT max(last_ts_us) AS corpus_max_us FROM per)
        |SELECT p.event_type, p.n_events, p.last_ts_us,
        |  t.corpus_max_us - p.last_ts_us AS lag_us,
        |  t.corpus_max_us - p.last_ts_us > 21600000000 AS stale_6h
        |FROM per p CROSS JOIN tot t
        |ORDER BY p.event_type""".stripMargin,
    "q_dq_rules" ->
      """WITH j AS (
        |  SELECT o.o_orderkey AS pk, l.l_shipdate, o.o_orderdate
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT rule, checked, violations,
        |       CAST(violations = 0 AS BOOLEAN) AS pass FROM (
        |  SELECT 'customer.acctbal_nonneg' AS rule, count(*) AS checked,
        |         count(*) FILTER (WHERE c_acctbal < 0) AS violations
        |  FROM customer
        |  UNION ALL
        |  SELECT 'lineitem.orderkey_fk', count(*),
        |         count(*) FILTER (WHERE pk IS NULL) FROM j
        |  UNION ALL
        |  SELECT 'lineitem.pk_unique', count(*),
        |         count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.qty_in_range', count(*),
        |         count(*) FILTER (WHERE l_quantity IS NULL
        |                          OR l_quantity < 1 OR l_quantity > 50)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.ship_after_order', count(*),
        |         count(*) FILTER (WHERE pk IS NOT NULL
        |                          AND l_shipdate < o_orderdate) FROM j
        |  UNION ALL
        |  SELECT 'orders.status_domain', count(*),
        |         count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
        |  FROM orders)
        |ORDER BY rule""".stripMargin,
    // Same quality formula as q_text_quality (rational arithmetic +
    // round 4dp — cross-engine bit-exact, so the equi-join on the rounded
    // score is safe); dominance resolved per QUALITY LEVEL: lvl_min =
    // best tokens at this quality, strict_min = best tokens at any
    // strictly higher quality (running min over the level table, current
    // row excluded). A doc is dominated iff a strictly-higher-quality doc
    // is no longer (strict_min <= t) or a same-quality doc is strictly
    // shorter (lvl_min < t); (q, t) duplicates survive together.
    "q_select_frontier" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |        * (1 - CAST(len(list_filter(string_split(text, ' '),
        |              t -> t IN ('a', 'the'))) AS DOUBLE)
        |            / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |lvl AS (
        |  SELECT quality, min(n_tokens) AS lvl_min
        |  FROM scored GROUP BY quality),
        |lvl2 AS (
        |  SELECT quality, lvl_min,
        |    min(lvl_min) OVER (ORDER BY quality DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict_min
        |  FROM lvl)
        |SELECT s.doc_id, s.n_tokens, s.quality
        |FROM scored s JOIN lvl2 l ON s.quality = l.quality
        |WHERE NOT ((l.strict_min IS NOT NULL
        |            AND l.strict_min <= s.n_tokens)
        |           OR l.lvl_min < s.n_tokens)
        |ORDER BY s.doc_id""".stripMargin,
    // Same per-lang (quality DESC, doc_id) head walk; the coverage cut
    // is the EXACT-INTEGER comparison 2*(cum-n) < lang_total — no float
    // threshold anywhere near the boundary row.
    "q_select_head" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, n_chars,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |        * (1 - CAST(len(list_filter(string_split(text, ' '),
        |              t -> t IN ('a', 'the'))) AS DOUBLE)
        |            / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, lang, n_chars, quality,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT)
        |      AS lang_chars
        |  FROM scored)
        |SELECT doc_id, lang, quality, n_chars, cum_chars,
        |  round(CAST(cum_chars AS DOUBLE) / CAST(lang_chars AS DOUBLE), 6)
        |    AS cum_share
        |FROM cum
        |WHERE 2 * (cum_chars - n_chars) < lang_chars
        |ORDER BY lang, cum_chars, doc_id""".stripMargin,
    // Same md5 hex-prefix shard assignment and checksum arithmetic as
    // the Spark side; the Spark result additionally proves the written
    // partitioned layout round-trips (the oracle certifies the VALUES,
    // the read-back certifies the files).
    "q_export_shards" ->
      """WITH sh AS (
        |  SELECT doc_id, text, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8
        |      AS shard
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT)
        |    AS BIGINT) AS checksum,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    // Identical manifest math to q_export_shards — the twin reads the
    // CLEAN table; the Spark side reads its own written JSONL, so any
    // escaping defect in the encode/parse loop diverges the checksum.
    "q_export_jsonl" ->
      """WITH sh AS (
        |  SELECT doc_id, text, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8
        |      AS shard
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT)
        |    AS BIGINT) AS checksum,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    // Same decomposition as the Spark side: exact integer lang counts,
    // sqrt (correctly rounded — the reason α = 1/2) and one identical
    // double tree; the Σ√n normalizer is a sum over a handful of langs
    // (ulp drift only, inside 4dp); alloc_docs derives from the ROUNDED
    // share so the ·10⁴ product is integral on both engines.
    "q_mix_temperature" ->
      """WITH cnt AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    sum(sqrt(CAST(n_docs AS DOUBLE))) AS s_root
        |  FROM cnt)
        |SELECT lang, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 4)
        |    AS p_raw,
        |  round(sqrt(CAST(n_docs AS DOUBLE)) / s_root, 4) AS p_temp,
        |  round((sqrt(CAST(n_docs AS DOUBLE)) / s_root)
        |    / (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)), 4)
        |    AS boost,
        |  CAST(round(10000 *
        |    round(sqrt(CAST(n_docs AS DOUBLE)) / s_root, 4), 0)
        |    AS BIGINT) AS alloc_docs
        |FROM cnt, tot ORDER BY lang""".stripMargin,
    // Same hash family, smoothing, and ln tree as the Spark side. The
    // ONLY float work is the 64-row weight CTE, rounded once to integer
    // 1e-4-nat units; doc scores are exact BIGINT dot products after
    // that, so engine float order can never touch the ranking.
    "q_select_dsir" ->
      """WITH t AS (
        |  SELECT doc_id, (doc_id % 97 = 0) AS is_t,
        |    string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, is_t,
        |    ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 4))
        |      ::BIGINT % 64 AS b
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |bgc AS (
        |  SELECT doc_id, is_t, b, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY doc_id, is_t, b),
        |raw AS (
        |  SELECT b, CAST(sum(c) AS BIGINT) AS rb FROM bgc GROUP BY b),
        |tgt AS (
        |  SELECT b, CAST(sum(c) AS BIGINT) AS tb
        |  FROM bgc WHERE is_t GROUP BY b),
        |tots AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS rt,
        |    CAST(sum(CASE WHEN is_t THEN c ELSE 0 END) AS BIGINT) AS tt
        |  FROM bgc),
        |w AS (
        |  SELECT raw.b,
        |    CAST(round((ln(CAST(COALESCE(tgt.tb, 0) + 1 AS DOUBLE)
        |        / CAST(tt + 64 AS DOUBLE))
        |      - ln(CAST(raw.rb + 1 AS DOUBLE)
        |        / CAST(rt + 64 AS DOUBLE))) * 10000, 0) AS BIGINT) AS w
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots),
        |sc AS (
        |  SELECT bgc.doc_id, CAST(sum(bgc.c) AS BIGINT) AS n_bigrams,
        |    CAST(sum(bgc.c * w.w) AS BIGINT) AS score_e4
        |  FROM bgc JOIN w ON bgc.b = w.b
        |  WHERE NOT bgc.is_t GROUP BY bgc.doc_id)
        |SELECT * FROM (
        |  SELECT doc_id, n_bigrams, score_e4,
        |    CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id)
        |      AS BIGINT) AS rnk
        |  FROM sc)
        |WHERE rnk <= 200 ORDER BY rnk""".stripMargin,
    // Exact rational features (note the 'g' flag — DuckDB regexp_replace
    // is first-match-only by default, Spark's is global), the shared
    // left-associated margin tree, decision = sign of the margin.
    "q_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('a', 'the'))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      AS stop_rate,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      AS mean_tok_len,
        |    CASE WHEN length(text) > 0 THEN
        |      CAST(length(text)
        |          - length(regexp_replace(text, '[0-9]', '', 'g'))
        |        AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |    ELSE 0.0 END AS digit_frac,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      AS distinct_ratio
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, stop_rate, mean_tok_len, digit_frac,
        |    distinct_ratio,
        |    -3.0 + 4.0 * stop_rate + 0.5 * mean_tok_len
        |      - 6.0 * digit_frac + 2.0 * distinct_ratio AS margin
        |  FROM f)
        |SELECT doc_id, stop_rate, mean_tok_len, digit_frac,
        |  distinct_ratio, margin, margin > 0 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // c_acctbal is DOUBLE in the fixture; /1000 then floor is exact
    // enough on both engines (same IEEE division, same floor) and the
    // class counts and shares are pure integer arithmetic after that.
    "q_dq_kanon" ->
      """WITH classes AS (
        |  SELECT c_mktsegment AS segment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT segment,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(*) FILTER (n < 5) AS BIGINT) AS n_at_risk_classes,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n) FILTER (n < 5), 0) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(min(n) AS BIGINT) AS min_class,
        |  CAST(max(n) AS BIGINT) AS max_class,
        |  round(CAST(coalesce(sum(n) FILTER (n < 5), 0) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 6) AS risk_share
        |FROM classes GROUP BY segment ORDER BY segment""".stripMargin,
    "q_dq_ldiversity" ->
      """WITH classes AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(*) FILTER (l < 3) AS BIGINT) AS n_low_diversity,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n) FILTER (l < 3), 0) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  round(CAST(coalesce(sum(n) FILTER (l < 3), 0) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 6) AS risk_share
        |FROM classes GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    // Shares are exact rationals; the 5-term TV sum is rounded 6
    // BEFORE the t-threshold compare, so banding cannot diverge.
    "q_dq_tcloseness" ->
      """WITH cust AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |    c_mktsegment AS seg
        |  FROM customer),
        |seg_counts AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS nseg
        |  FROM cust GROUP BY seg),
        |global AS (
        |  SELECT seg, nseg::DOUBLE / (sum(nseg) OVER ())::DOUBLE AS pg
        |  FROM seg_counts),
        |cs AS (
        |  SELECT c_nationkey, bal_bucket, seg,
        |    CAST(count(*) AS BIGINT) AS n_cs
        |  FROM cust GROUP BY 1, 2, 3),
        |cls AS (
        |  SELECT c_nationkey, bal_bucket,
        |    CAST(sum(n_cs) AS BIGINT) AS n_c
        |  FROM cs GROUP BY 1, 2),
        |grid AS (
        |  SELECT cls.c_nationkey, cls.bal_bucket, cls.n_c,
        |    abs(coalesce(cs.n_cs, 0)::DOUBLE / cls.n_c::DOUBLE - g.pg)
        |      AS dev
        |  FROM cls CROSS JOIN global g
        |  LEFT JOIN cs ON cs.c_nationkey = cls.c_nationkey
        |    AND cs.bal_bucket = cls.bal_bucket AND cs.seg = g.seg),
        |tv AS (
        |  SELECT c_nationkey, bal_bucket, n_c,
        |    round(sum(dev) * 0.5, 6) AS tv
        |  FROM grid GROUP BY 1, 2, 3)
        |SELECT c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(*) FILTER (tv > 0.3) AS BIGINT) AS n_fail,
        |  CAST(coalesce(sum(n_c) FILTER (tv > 0.3), 0) AS BIGINT)
        |    AS n_rows_at_risk,
        |  round(max(tv), 6) AS worst_tv
        |FROM tv GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_filter_blocklist" ->
      """WITH block(source, reason) AS (
        |  VALUES ('src3', 'licensing'), ('src7', 'spam'),
        |         ('src12', 'optout'))
        |SELECT d.lang,
        |  CASE WHEN b.reason IS NULL THEN 'kept' ELSE 'removed' END
        |    AS verdict,
        |  coalesce(b.reason, '-') AS reason,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d LEFT JOIN block b ON d.source = b.source
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Same 52-bit md5-prefix rank as q_domain_cap (what the Spark side
    // feeds graft_topk_by as a double, doc_id tiebreak); the
    // (rnd, lang, doc_id) order is total, so both engines number
    // identical rows.
    "q_interleave_mix" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(concat('0x',
        |          substr(md5(doc_id::VARCHAR), 1, 13)) AS BIGINT),
        |        doc_id) AS BIGINT) AS rnd
        |  FROM documents),
        |ordered AS (
        |  SELECT doc_id, lang, rnd,
        |    CAST(row_number() OVER (ORDER BY rnd, lang, doc_id)
        |      AS BIGINT) AS position
        |  FROM ranked WHERE rnd <= 64)
        |SELECT doc_id, lang, rnd, position FROM ordered
        |WHERE position <= 64 ORDER BY position""".stripMargin,
    // The greedy rounds unrolled; distance2 = nrm2_a + nrm2_c - 2*dot
    // with the SAME ordered-summation list arithmetic as the Spark
    // side's graft_vec_dot (the q_dedup_cc edge precedent), so the
    // raw-double argmax picks the identical center every round.
    "q_select_kcenter" ->
      ("""WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE)) AS nrm2
        |  FROM embeddings),
        |cent1 AS (
        |  SELECT 1 AS center_rank, vec_id AS c_id, embedding AS c_emb,
        |    nrm2 AS c_nrm2
        |  FROM e ORDER BY vec_id LIMIT 1)""".stripMargin
        + ",\n" + (2 to 4).map(kcRoundSql).mkString(",\n") + ",\n"
        + """asg AS (
        |  SELECT e.vec_id,
        |    (min(struct_pack(d2 := e.nrm2 + c.c_nrm2
        |        - 2.0 * list_sum(list_transform(
        |            range(1, len(e.embedding) + 1),
        |            i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE)),
        |      rk := c.center_rank))).rk AS center_rank,
        |    (min(struct_pack(d2 := e.nrm2 + c.c_nrm2
        |        - 2.0 * list_sum(list_transform(
        |            range(1, len(e.embedding) + 1),
        |            i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE)),
        |      rk := c.center_rank))).d2 AS d2
        |  FROM e CROSS JOIN cent4 c GROUP BY e.vec_id)
        |SELECT a.center_rank, c.c_id,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  round(max(a.d2), 6) AS coverage_d2
        |FROM asg a JOIN cent4 c ON c.center_rank = a.center_rank
        |GROUP BY a.center_rank, c.c_id
        |ORDER BY a.center_rank""".stripMargin),
    // Same md5 hex-prefix draw as q_sample_hash/q_export_shards ('0x'
    // hex parse = Spark's conv(...,16,10)), the exact (h + 0.5)/2³²
    // uniform (power-of-two divisor — bit-identical), one ln rounded
    // 9dp, (skey DESC, doc_id) total order on both engines.
    "q_sample_weighted" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars AS weight,
        |    round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
        |        ::BIGINT + 0.5) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE), 9) AS skey
        |  FROM documents)
        |SELECT doc_id, weight, skey,
        |  CAST(row_number() OVER (ORDER BY skey DESC, doc_id)
        |    AS BIGINT) AS rank
        |FROM keyed ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,
    // Exact integer token masses, the q_mix_temperature sqrt/4dp-share
    // discipline, then pure BIGINT min/max arithmetic: desired =
    // round(2T · round(q,4)) is integral up to one ulp on both engines.
    "q_mix_epochs" ->
      """WITH cnt AS (
        |  SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks_l
        |  FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(toks_l) AS BIGINT) AS t_all,
        |    sum(sqrt(CAST(toks_l AS DOUBLE))) AS s_root
        |  FROM cnt),
        |pl AS (
        |  SELECT lang, toks_l,
        |    round(sqrt(CAST(toks_l AS DOUBLE)) / s_root, 4) AS share,
        |    CAST(round(2.0 * CAST(t_all AS DOUBLE)
        |      * round(sqrt(CAST(toks_l AS DOUBLE)) / s_root, 4), 0)
        |      AS BIGINT) AS desired_toks
        |  FROM cnt, tot)
        |SELECT lang, toks_l, share, desired_toks,
        |  least(desired_toks, 2 * toks_l) AS planned_toks,
        |  round(least(CAST(desired_toks AS DOUBLE)
        |    / CAST(toks_l AS DOUBLE), 2.0), 4) AS epochs,
        |  greatest(desired_toks - 2 * toks_l, 0) AS deficit_toks
        |FROM pl ORDER BY lang""".stripMargin,
    // Same (mass DESC, source) total order and zigzag integer
    // arithmetic; shares/deviations single 4dp divisions.
    "q_shard_balance" ->
      """WITH src AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |ranked AS (
        |  SELECT source, toks,
        |    row_number() OVER (ORDER BY toks DESC, source) AS r
        |  FROM src),
        |assigned AS (
        |  SELECT source, toks,
        |    CAST(CASE WHEN (r - 1) % 16 < 8 THEN (r - 1) % 16
        |      ELSE 15 - (r - 1) % 16 END AS BIGINT) AS shard
        |  FROM ranked),
        |pershard AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(sum(toks) AS BIGINT) AS tokens
        |  FROM assigned GROUP BY shard),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t_all
        |  FROM pershard)
        |SELECT shard, n_sources, tokens,
        |  round(CAST(tokens AS DOUBLE) / CAST(t_all AS DOUBLE), 4)
        |    AS share,
        |  round((CAST(tokens AS DOUBLE) * 8 - CAST(t_all AS DOUBLE))
        |    / CAST(t_all AS DOUBLE), 4) AS dev_from_ideal
        |FROM pershard, tot ORDER BY shard""".stripMargin,
    // Every gate is integer arithmetic (letters vs 3·nt / 8·nt
    // cross-multiplication — no float compare); first-fail CASE order
    // is the declared stage order; survivors from a killed-only
    // cumulative window over the ≤6-row stage frame.
    "q_filter_waterfall" ->
      """WITH sig AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(string_split(text, ' ')))
        |      AS BIGINT) AS nd,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('a', 'the'))) AS BIGINT) AS stop_cnt
        |  FROM documents),
        |verd AS (
        |  SELECT nt,
        |    CASE
        |      WHEN nt < 8 THEN 1
        |      WHEN nt > 50 THEN 2
        |      WHEN n_chars - (nt - 1) < 3 * nt
        |        OR n_chars - (nt - 1) > 8 * nt THEN 3
        |      WHEN stop_cnt * 50 < nt THEN 4
        |      WHEN nd * 2 < nt THEN 5
        |      ELSE 6 END AS stage
        |  FROM sig),
        |st AS (
        |  SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS tokens
        |  FROM verd GROUP BY stage),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs FROM st)
        |SELECT CAST(st.stage AS BIGINT) AS stage,
        |  CASE st.stage WHEN 1 THEN 'short' WHEN 2 THEN 'long'
        |    WHEN 3 THEN 'word_len' WHEN 4 THEN 'low_stop'
        |    WHEN 5 THEN 'repetitive' ELSE 'keep' END AS verdict,
        |  st.n_docs, st.tokens,
        |  round(CAST(st.n_docs AS DOUBLE) / CAST(t_docs AS DOUBLE), 4)
        |    AS frac,
        |  t_docs - CAST(coalesce(sum(CASE WHEN st.stage <= 5
        |      THEN st.n_docs END) OVER (ORDER BY st.stage
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |    AS BIGINT) AS n_after
        |FROM st, tot ORDER BY stage""".stripMargin,
    // Per-doc ratios quantized 1e-6 at the scan; Σb·L terms and raw
    // weights quantized 1e-9 before their cross-language sums; the one
    // libm exp rides engine-identical inputs (the q_dp_laplace rule).
    "q_mix_dro" ->
      """WITH sig AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(round(1.0e6
        |      * CAST(len(list_distinct(string_split(text, ' ')))
        |          AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE), 0)
        |      AS BIGINT) AS dr_units
        |  FROM documents),
        |pl AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS tokens,
        |    CAST(sum(dr_units) AS BIGINT) AS dru
        |  FROM sig GROUP BY lang),
        |t AS (
        |  SELECT lang, n_docs, tokens, dru,
        |    CAST(sum(tokens) OVER () AS BIGINT) AS t_all
        |  FROM pl),
        |x AS (
        |  SELECT *,
        |    CAST(dru AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1.0e6)
        |      AS loss,
        |    CAST(round((CAST(tokens AS DOUBLE) / CAST(t_all AS DOUBLE))
        |      * (CAST(dru AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1.0e6))
        |      * 1.0e9, 0) AS BIGINT) AS bl_units
        |  FROM t),
        |y AS (
        |  SELECT *,
        |    loss - CAST(sum(bl_units) OVER () AS DOUBLE) / 1.0e9
        |      AS excess
        |  FROM x),
        |z AS (
        |  SELECT *,
        |    CAST(round((CAST(tokens AS DOUBLE) / CAST(t_all AS DOUBLE))
        |      * exp(4.0 * excess) * 1.0e9, 0) AS BIGINT) AS w_units
        |  FROM y)
        |SELECT lang, n_docs, tokens,
        |  round(CAST(tokens AS DOUBLE) / CAST(t_all AS DOUBLE), 4)
        |    AS base_share,
        |  round(loss, 6) AS loss,
        |  round(excess, 6) AS excess,
        |  round(CAST(w_units AS DOUBLE)
        |    / CAST(sum(w_units) OVER () AS DOUBLE), 4) AS weight
        |FROM z ORDER BY lang""".stripMargin,
    // The exact q_mix_epochs plan tree (4dp epochs), then the stable
    // md5 doc draw against frac(epochs) — floor/frac of the same
    // double, the same u, the same compare on both engines.
    "q_sample_replicate" ->
      """WITH cnt AS (
        |  SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks_l
        |  FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(toks_l) AS BIGINT) AS t_all,
        |    sum(sqrt(CAST(toks_l AS DOUBLE))) AS s_root
        |  FROM cnt),
        |pl AS (
        |  SELECT lang,
        |    round(least(CAST(CAST(round(2.0 * CAST(t_all AS DOUBLE)
        |        * round(sqrt(CAST(toks_l AS DOUBLE)) / s_root, 4), 0)
        |        AS BIGINT) AS DOUBLE)
        |      / CAST(toks_l AS DOUBLE), 2.0), 4) AS epochs
        |  FROM cnt, tot)
        |SELECT d.doc_id, d.lang, pl.epochs,
        |  CAST(floor(pl.epochs) AS BIGINT)
        |    + CASE WHEN (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))
        |        ::BIGINT + 0.5) / 4294967296.0
        |        < pl.epochs - floor(pl.epochs)
        |      THEN 1 ELSE 0 END AS n_copies,
        |  (CAST(floor(pl.epochs) AS BIGINT)
        |    + CASE WHEN (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))
        |        ::BIGINT + 0.5) / 4294967296.0
        |        < pl.epochs - floor(pl.epochs)
        |      THEN 1 ELSE 0 END)
        |    * CAST(len(string_split(d.text, ' ')) AS BIGINT)
        |    AS tokens_out
        |FROM documents d JOIN pl ON pl.lang = d.lang
        |ORDER BY d.doc_id""".stripMargin,
    // Identity = the q_dedup_exact normalization, split = the
    // q_split_hash nibble; the md5 fingerprint is the only shuffle key
    // and the 3-pair counts come off one conditional-sum agg.
    // Integer epoch-µs cutoff arithmetic on both sides (BIGINT * 8 //
    // 10 — exact); DuckDB's sum(BIGINT) widens to HUGEINT, so the event
    // totals cast back.
    "q_split_temporal" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
        |pu AS (
        |  SELECT event_type, user_id,
        |    count(*) FILTER (WHERE us <= mn + ((mx - mn) * 8) // 10)
        |      AS n_tr,
        |    count(*) FILTER (WHERE us > mn + ((mx - mn) * 8) // 10)
        |      AS n_te
        |  FROM ev, b GROUP BY event_type, user_id)
        |SELECT event_type,
        |  CAST(sum(n_tr) AS BIGINT) AS n_train,
        |  CAST(sum(n_te) AS BIGINT) AS n_test,
        |  CAST(count(*) FILTER (WHERE n_tr > 0) AS BIGINT)
        |    AS users_train,
        |  CAST(count(*) FILTER (WHERE n_te > 0) AS BIGINT)
        |    AS users_test,
        |  CAST(count(*) FILTER (WHERE n_tr > 0 AND n_te > 0) AS BIGINT)
        |    AS users_both,
        |  CASE WHEN count(*) FILTER (WHERE n_te > 0) > 0 THEN
        |    round(CAST(count(*) FILTER (WHERE n_tr > 0 AND n_te > 0)
        |        AS DOUBLE)
        |      / count(*) FILTER (WHERE n_te > 0), 4) END AS leak_frac
        |FROM pu GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_split_leakage" ->
      """WITH g AS (
        |  SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
        |      AS nh,
        |    CAST(sum(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
        |      NOT IN ('c', 'd', 'e', 'f') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_train,
        |    CAST(sum(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
        |      IN ('c', 'd') THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        |    CAST(sum(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
        |      IN ('e', 'f') THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |  FROM documents GROUP BY 1),
        |one AS (
        |  SELECT
        |    CAST(sum(CASE WHEN n_train > 0 AND n_val > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tv_g,
        |    CAST(sum(CASE WHEN n_train > 0 AND n_val > 0
        |      THEN n_train + n_val + n_test ELSE 0 END) AS BIGINT)
        |      AS tv_d,
        |    CAST(sum(CASE WHEN n_train > 0 AND n_test > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tt_g,
        |    CAST(sum(CASE WHEN n_train > 0 AND n_test > 0
        |      THEN n_train + n_val + n_test ELSE 0 END) AS BIGINT)
        |      AS tt_d,
        |    CAST(sum(CASE WHEN n_val > 0 AND n_test > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS vt_g,
        |    CAST(sum(CASE WHEN n_val > 0 AND n_test > 0
        |      THEN n_train + n_val + n_test ELSE 0 END) AS BIGINT)
        |      AS vt_d
        |  FROM g)
        |SELECT 'train_test' AS pair, tt_g AS n_shared_groups,
        |  tt_d AS n_docs_in_shared FROM one
        |UNION ALL SELECT 'train_val', tv_g, tv_d FROM one
        |UNION ALL SELECT 'val_test', vt_g, vt_d FROM one
        |ORDER BY pair""".stripMargin
  )

  /** One unrolled greedy round of the q_select_kcenter oracle: min
    * distance² to the chosen set, the (−dmin, id) argmax, and the
    * center append. */
  private def kcRoundSql(r: Int): String =
    s"""dm$r AS (
       |  SELECT e.vec_id,
       |    min(e.nrm2 + c.c_nrm2 - 2.0 * list_sum(list_transform(
       |        range(1, len(e.embedding) + 1),
       |        i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE)))
       |      AS dmin
       |  FROM e CROSS JOIN cent${r - 1} c GROUP BY e.vec_id),
       |nx$r AS (
       |  SELECT (min(struct_pack(nd := -dmin, id := vec_id))).id
       |    AS vec_id
       |  FROM dm$r),
       |cent$r AS (
       |  SELECT * FROM cent${r - 1}
       |  UNION ALL
       |  SELECT $r AS center_rank, e.vec_id, e.embedding, e.nrm2
       |  FROM nx$r n JOIN e ON e.vec_id = n.vec_id)""".stripMargin

  private def hex1(c: org.apache.spark.sql.Column) =
    substring(md5(c.cast("string").cast("binary")), 1, 1)

  /** Deterministic train/val/test assignment (12/2/2 sixteenths) from the
    * first hex nibble of md5(doc_id), with per-(split, lang) stats. The
    * assignment is row-local — the predicate runs in the scan stage and
    * the single shuffle is the stats agg. */
  def splitHash(s: SparkSession, d: String): DataFrame = {
    val h = hex1(col("doc_id"))
    documents(s, d)
      .select(
        when(h.isin("c", "d"), "val")
          .when(h.isin("e", "f"), "test")
          .otherwise("train").as("split"),
        col("lang"), col("n_chars"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("split", "lang")
  }

  /** Per-source document cap: keep the 10 md5-first docs per source (an
    * unbiased deterministic sample, not ingest-order bias).
    *
    * Skew-proof shape (round-10 verdict ask 3): the former per-source
    * `row_number` window SORTED each source's full partition — a
    * mega-source (one domain holding 10 % of a 100 TB crawl is
    * routine) serializes into one task sorting billions of rows to keep
    * 10. Now the keep is the native bounded-heap `graft_topk_by`
    * aggregate: every task keeps at most 10 (key, id) pairs per source
    * in a primitive-array heap, partials merge map-side through
    * ObjectHashAggregate, and the wire carries O(sources · 10) — a
    * mega-source costs exactly one more heap, never a sort.
    *
    * Hash order: `graft_topk_by` ranks (DOUBLE score DESC, id ASC), so
    * the md5 order rides in as score = −(first 13 hex chars as int) —
    * 52 bits, exactly representable in a double, negation exact — and
    * rank 1..10 is ascending (md5-prefix, doc_id). The oracle twin
    * uses the SAME 52-bit-prefix order, so the keep semantics are
    * engine-identical AT ANY SCALE, including prefix-collision ties
    * (broken by doc_id on both sides); 13 hex chars of md5 remain a
    * collision-free unbiased sample key in practice (fixture-verified
    * unique; at 10¹¹ docs ties are ~n²/2⁵³ rare and still total-ordered).
    * ScaleOpsSpec probes the mega-source case against a planted skew
    * fixture. */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    val pfx = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")
    documents(s, d)
      .select(col("source"), col("doc_id"), pfx.as("pfx"))
      .groupBy("source")
      .agg(call_function("graft_topk_by",
        -col("pfx").cast("double"), col("doc_id"), lit(10)).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("source"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
      .orderBy("source", "rk")
  }

  /** Incremental exact dedup: the delta batch (doc_id ≡ 0 mod 4) is
    * fingerprinted with q_dedup_exact's normalization and LEFT-JOIN
    * flagged against the distinct base-corpus fingerprints; per-lang
    * new/dup counts. Cost scales with the delta — the base side is
    * distinct-reduced once (bucketed index + bloom prefilter at
    * production scale, see object scaladoc). */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val fp = documents(s, d).select(
      col("doc_id"), col("lang"),
      md5(trim(regexp_replace(lower(col("text")), " +", " "))
        .cast("binary")).as("fp"))
    val base = fp.filter(col("doc_id") % 4 =!= 0).select("fp").distinct()
      .withColumn("dup", lit(true))
    fp.filter(col("doc_id") % 4 === 0)
      .join(base, Seq("fp"), "left")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_delta"),
        count_if(col("dup")).as("n_dup"),
        (count(lit(1)) - count_if(col("dup"))).as("n_new"))
      .orderBy("lang")
  }

  /** Bloom-gated incremental dedup — `q_dedup_incremental`'s exact
    * fingerprint join with the 100 TB prefilter in front: a Bloom filter
    * built over the BASE corpus fingerprints (KB-scale whatever the
    * corpus, Spark's codegen'd `BloomFilterAggregate` exposed as
    * `graft_bloom_agg`) rides to every executor as a plan literal, and
    * each delta row probes it row-locally through `graft_might_contain`
    * — the probe stays inside whole-stage codegen, no typed boundary.
    * Bloom misses are DEFINITELY new (no false negatives, by
    * construction) and skip the join entirely; only the hits — the true
    * dups plus an fpp-bounded sliver — reach the exact confirm join, so
    * the join's probe side shrinks from |delta| to ≈|dups|. The report
    * carries the pruning accounting per language: delta size,
    * bloom-pruned, candidates, confirmed dups, and measured false
    * positives.
    *
    * Deterministic: keys enter as fixed-seed `xxhash64` longs and
    * bit-OR insertion is order-independent, so hits — and therefore
    * every count — are run-stable. That determinism is also why the
    * round-10 twin exists: [[bloomTwinSql]] reproduces every bit
    * position in SQL (hash-matched oracle); the no-false-negative and
    * reconciliation invariants stay pinned in EdgeCaseSpec on a
    * planted-dup mini corpus. */
  def dedupBloom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = documents(s, d).select(
      col("doc_id"), col("lang"),
      md5(trim(regexp_replace(lower(col("text")), " +", " "))).as("fp"))
    val base = fp.filter(col("doc_id") % 4 =!= 0)
    val delta = fp.filter(col("doc_id") % 4 === 0)
    // Size expectedNumItems from the MEASURED base cardinality (floor
    // 8192, 2× headroom for inter-build growth): a hardcoded constant
    // silently degrades the 3% fpp design point once the corpus outgrows
    // it — at sf0.1 the base was already 3750/8192. The count is one
    // extra pass over a 2-column projection of the base (pushdown prunes
    // the scan) and the sketch aggregate itself is already an action, so
    // construction stays O(2 scans); the bits stay KB-scale (~1.2 B/item
    // at 3%).
    val nBaseRows = base.count()
    // An EMPTY base needs no bloom filter: with nothing in the base,
    // every delta row is definitely new — the no-false-negative contract
    // degenerates to all-misses (EmptyInputSpec).
    val probed =
      if (nBaseRows == 0)
        delta.withColumn("bloom_hit", lit(false))
      else {
        val nBase = (nBaseRows * 2).max(8192L)
        val nBits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(nBase, 0.03)
        // Sketch built by the codegen'd BloomFilterAggregate (Spark's
        // runtime-row-filter expression, exposed as graft_bloom_agg —
        // fixed-seed xxhash64 keys, bit-OR merge, so the bytes are
        // order-independent and run-stable) and pulled to the driver as
        // ONE KB-scale binary — the same driver hop `stat.bloomFilter`
        // made, not a data collect. Embedded as a plan literal it ships
        // to executors with the task closure, and the probe is
        // graft_might_contain — evaluated INSIDE whole-stage codegen
        // (round 7 probed through a typed mapPartitions boundary, which
        // forced DeserializeToObject around the hot path).
        val sketch = base
          .select(call_function("graft_bloom_agg", xxhash64(col("fp")),
            lit(nBase), lit(nBits)).as("bf"))
          .head().getAs[Array[Byte]](0)
        delta.select(col("doc_id"), col("lang"), col("fp"),
          call_function("graft_might_contain",
            lit(sketch), xxhash64(col("fp"))).as("bloom_hit"))
      }
    val exact = base.select("fp").distinct().withColumn("dup", lit(true))
    val cand = probed.filter(col("bloom_hit"))
      .join(exact, Seq("fp"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_candidates"),
        count_if(col("dup")).as("n_dup"))
    probed.groupBy("lang")
      .agg(count(lit(1)).as("n_delta"),
        count_if(!col("bloom_hit")).as("n_pruned"))
      .join(cand, Seq("lang"), "left")
      .select(col("lang"), col("n_delta"), col("n_pruned"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_candidates"), lit(0L))
          - coalesce(col("n_dup"), lit(0L))).as("n_false_pos"))
      .orderBy("lang")
  }

  /** Embedding-column health stats per label: per-vector L2 norm and mean
    * component via a fold over the array in the scan stage (codegen'd
    * `aggregate` HOF, double accumulation); vectors never shuffle — only
    * their scalar summaries do. */
  def embedStats(s: SparkSession, d: String): DataFrame = {
    val sq = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val sm = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double"))
    embeddings(s, d)
      .select(col("label"), sqrt(sq).as("nrm"), (sm / 64).as("mean_comp"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg("nrm"), 4).as("avg_norm"),
        round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm"),
        round(avg("mean_comp"), 4).as("avg_mean_comp"))
      .orderBy("label")
  }

  /** Per-label centroid geometry + inertia — the k-means-style cluster
    * audit over the labeled embedding corpus (`q_embed_stats` checks
    * per-VECTOR health; this checks per-CLUSTER cohesion: a label whose
    * inertia rivals its members' norms is not a cluster).
    *
    * Inertia needs NO second pass over the vectors: E‖x−μ‖² =
    * E‖x‖² − ‖μ‖², so one skinny (label, dim) component-sum shuffle and
    * one per-label ‖x‖² agg produce everything — the centroid join-back
    * a naive implementation would do is algebra'd away. Per-row squared
    * norms are sequential HOF folds (same in-row order both engines);
    * cross-row double sums drift ~1e-12 between merge orders, absorbed
    * by the rounds (the `q_embed_stats` tolerance note). */
  def embedCentroid(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val sq = aggregate(col("embedding"), lit(0.0d),
      (a, x) => a + x.cast("double") * x.cast("double"))
    val persq = e.select(col("label"), sq.as("sq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("sq").as("ssq"))
    val dims = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(col("x").cast("double")).as("sd"))
    val cent = dims.groupBy("label")
      .agg(sum(col("sd") * col("sd")).as("sum_sd2"))
    persq.join(cent, Seq("label"))
      .select(col("label"), col("n_vecs"),
        round(sqrt(col("sum_sd2")) / col("n_vecs"), 6)
          .as("centroid_norm"),
        round(col("ssq") / col("n_vecs")
          - col("sum_sd2") / (col("n_vecs") * col("n_vecs")), 4)
          .as("inertia"))
      .orderBy("label")
  }

  /** Ingestion-freshness audit: per event stream, the last-seen event
    * time and its lag behind the freshest stream, with a staleness flag
    * — the operational sibling of `q_dq_rules` (rules check VALUES;
    * freshness checks ARRIVAL — a silently-stalled upstream is the
    * failure mode value rules cannot see).
    *
    * One map-side-combined max/count agg collapses the corpus to a
    * streams-sized frame; the corpus max re-aggregates that frame and
    * rides back as a 1-row broadcast cross (PlanGuard allowlisted).
    * Epoch-µs integers end-to-end; the 6-hour cut is an exact
    * comparison. */
  def dqFreshness(s: SparkSession, d: String): DataFrame = {
    val per = events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_ts_us"))
    val tot = per.agg(max("last_ts_us").as("corpus_max_us"))
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_events"), col("last_ts_us"),
        (col("corpus_max_us") - col("last_ts_us")).as("lag_us"),
        (col("corpus_max_us") - col("last_ts_us") > 21600000000L)
          .as("stale_6h"))
      .orderBy("event_type")
  }

  /** Distance-to-centroid outliers: the top-3 vectors farthest from
    * their label's centroid — the per-VECTOR consumer of
    * [[embedCentroid]]'s geometry (inertia says a cluster is loose;
    * this names the vectors making it loose — mislabeled or corrupt
    * embeddings surface here first).
    *
    * The centroid table is labels × dims (KB) and broadcasts; each
    * vector's squared distance is one scan-stage HOF fold over
    * `zip_with(embedding, centroid)` — the corpus is read once and
    * never shuffled with its vectors. The per-label top-3 reduces
    * through the native bounded-heap `graft_topk_by` aggregate
    * (map-side partials, O(k) primitive-array state, no typed-row
    * boundary), ranking on the ROUNDED distance with the id tiebreak
    * so both engines cut the same set. */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val cent = e
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(col("x").cast("double")).as("sd"),
        count(lit(1)).as("n"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("dim"),
        (col("sd") / col("n")).as("m")))).as("cm"))
      .select(col("label").as("clabel"),
        transform(col("cm"), c => c.getField("m")).as("centroid"))
    val d2 = e.join(broadcast(cent), col("label") === col("clabel"))
      .select(col("label").cast("long").as("probe_id"), col("vec_id"),
        round(aggregate(
          zip_with(col("embedding"), col("centroid"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0d), (a, v) => a + v), 4).as("cos_sim"))
    d2.groupBy("probe_id")
      .agg(call_function("graft_topk_by",
        col("cos_sim"), col("vec_id"), lit(3)).as("top"))
      .select(col("probe_id").as("label"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("label"), col("t.id").as("vec_id"),
        col("t.score").as("dist2"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("label", "rnk")
  }

  /** Column profiler (the pre-ingest data-quality audit: row count, null
    * count, exact distinct cardinality, min/max per column) over the
    * orders dimension — one independent per-column pipeline, unioned.
    *
    * Plan shape, chosen after MEASURING the alternative: the "one pass"
    * multi-`countDistinct` agg looks optimal but Catalyst's rewrite is an
    * Expand (×N+1 row replication) into KEYED SortAggregates — string
    * min/max buffers are not UnsafeRow-mutable, so the whole expanded
    * stream gets sorted on a 5-column key, twice (2.2 s at sf0.1 for a
    * 150k-row table). On columnar storage "one pass" is the wrong
    * objective anyway: N single-column scans read the same bytes as one
    * N-column scan. So: per column, ONE `groupBy(value)` count (two-phase
    * map-side-combined hash agg — value keys may be strings, only
    * BUFFERS must be mutable) from which every metric derives (rows =
    * Σcnt, nulls = cnt of the null group, distinct = non-null groups,
    * min/max over the already-distinct values in a keyless linear fold),
    * then a 4-way union of 1-row results. No Expand, no keyed sort, each
    * column's bytes read once. Exact distincts feed schema contracts; at
    * extreme cardinalities the `approx_count_distinct` swap
    * (q_agg_sketch path) drops the per-value agg for HLL partials.
    * min/max surface as VARCHAR so one schema profiles every type. */
  def profileTable(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("o_custkey", "o_orderkey", "o_orderpriority",
      "o_orderstatus")
    cols.map { c =>
      orders(s, d)
        .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          sum("cnt").as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
            .as("n_nulls"),
          count(col("v")).as("n_distinct"),
          min(col("v")).cast("string").as("min_val"),
          max(col("v")).cast("string").as("max_val"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _).orderBy("column_name")
  }

  /** Source-mix diversity per language — Shannon entropy (and its
    * normalized form) plus the Gini/Simpson index of the source
    * distribution. The corpus-curation balance check: a language whose
    * documents all come from one source (entropy → 0) is a skew risk for
    * training-mix design; these are the metrics a mixing policy
    * thresholds on.
    *
    * Determinism: H is decomposed as ln(N) − Σ nᵢ·ln nᵢ / N so every
    * input to the float math is an EXACT integer count (no intermediate
    * pᵢ divisions); Gini's Σ nᵢ² stays fully integer until one final
    * division. The Σ nᵢ·ln nᵢ sum has one term per source — a handful —
    * so accumulation-order drift is ulp-level against the 4dp rounding.
    * Scale: one map-side-combined (lang, source) count over the corpus;
    * everything after runs on the tiny count table. */
  def aggEntropy(s: SparkSession, d: String): DataFrame = {
    val cnt = documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val g = cnt.groupBy("lang").agg(
      sum("n").as("n_docs"),
      count(lit(1)).as("n_sources"),
      sum(col("n") * col("n")).as("s2"),
      sum(nD * log(nD)).as("slog"))
    val h = log(col("n_docs").cast("double")) -
      col("slog") / col("n_docs").cast("double")
    g.select(col("lang"), col("n_docs"), col("n_sources"),
        round(h, 4).as("entropy"),
        when(col("n_sources") > 1,
          round(h / log(col("n_sources").cast("double")), 4))
          .as("entropy_norm"),
        round(lit(1.0) - col("s2").cast("double")
          / (col("n_docs") * col("n_docs")).cast("double"), 4).as("gini"))
      .orderBy("lang")
  }

  /** URL canonicalization — the normalization every URL-keyed dedup /
    * frequency / domain-cap pass runs first, since raw crawl URLs vary
    * in case, default ports, trailing slashes, tracking params, and
    * `www.` prefixes while naming the same resource. The synthetic
    * corpus carries no URLs, so each doc plants a deterministically
    * messy one from its own id (the q_text_pii convention).
    *
    * Policy (declared): lowercase scheme+host, strip `www.` and the
    * default :443 port, strip trailing slashes, drop `utm_*` tracking
    * params, sort surviving params for order-independence. Everything is
    * codegen'd string/regexp/array work in the scan stage — zero
    * shuffles before the declared ORDER BY, linear at any corpus size. */
  def urlNormalize(s: SparkSession, d: String): DataFrame = {
    val raw = concat(lit("HTTPS://WWW."), col("source"),
      lit(".Example.COM:443/path/"), col("doc_id"),
      lit("/?b="), pmod(col("doc_id"), lit(7)),
      lit("&utm_source=feed&a=1&utm_campaign=x"))
    val scheme = lower(regexp_extract(raw, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(raw, "^[A-Za-z]+://([^/?]+)", 1)),
      "^www\\.", ""), ":443$", "")
    val path = regexp_replace(
      regexp_extract(raw, "^[A-Za-z]+://[^/?]+(/[^?]*)", 1), "/+$", "")
    val params = array_sort(filter(
      split(regexp_extract(raw, "\\?(.*)$", 1), "&"),
      p => !p.like("utm_%")))
    documents(s, d).select(
      col("doc_id"),
      concat(scheme, lit("://"), host, path,
        when(size(params) > 0,
          concat(lit("?"), array_join(params, "&"))).otherwise(lit("")))
        .as("canon_url"),
      host.as("host"),
      size(params).cast("long").as("n_params"))
      .orderBy("doc_id")
  }

  /** Data-quality gate: six declared expectation rules evaluated to one
    * (rule, checked, violations, pass) row each — the validation pass a
    * pipeline runs BEFORE training data ships (the Deequ/"expectations"
    * shape): domain bounds, value domains, primary-key uniqueness,
    * referential integrity, and cross-table temporal consistency. The
    * fixture genuinely violates three of the six (duplicate line keys,
    * ship-before-order dates, negative balances), so `pass` carries
    * signal, not a constant.
    *
    * Scale design: rules COMPILE to the cheapest plan their class
    * allows — domain/bound rules are conditional counts inside one scan
    * stage (map-side-combined, zero extra shuffle per added rule on the
    * same table); pk uniqueness is one keyed groupBy whose partial aggs
    * collapse before the exchange; the two referential/temporal rules
    * share a single left join on the fk (checked + both violation counts
    * read off the SAME joined pass). Adding a rule on an already-scanned
    * table costs one more conditional aggregate, not another 100 TB
    * read. */
  def dqRules(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    def viol(cond: Column) = count(when(cond, true))
    def row(rule: String, checked: Column, violations: Column) =
      struct(lit(rule).as("rule"), checked.as("checked"),
        violations.as("violations"))
    val li = lineitem(s, d)
    val qty = li.agg(count(lit(1)).as("c"),
      viol(col("l_quantity").isNull || col("l_quantity") < 1 ||
        col("l_quantity") > 50).as("v"))
      .select(row("lineitem.qty_in_range", col("c"), col("v")).as("r"))
    val pk = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("c"),
        coalesce(sum(when(col("cnt") > 1, col("cnt") - 1)), lit(0L)).as("v"))
      .select(row("lineitem.pk_unique", col("c"), col("v")).as("r"))
    val fkShip = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("c"),
        viol(col("o_orderkey").isNull).as("fk_v"),
        viol(col("o_orderkey").isNotNull &&
          col("l_shipdate") < col("o_orderdate")).as("ship_v"))
      .select(explode(array(
        row("lineitem.orderkey_fk", col("c"), col("fk_v")),
        row("lineitem.ship_after_order", col("c"), col("ship_v")))).as("r"))
    val status = orders(s, d).agg(count(lit(1)).as("c"),
      viol(!col("o_orderstatus").isin("O", "F", "P")).as("v"))
      .select(row("orders.status_domain", col("c"), col("v")).as("r"))
    val acct = customer(s, d).agg(count(lit(1)).as("c"),
      viol(col("c_acctbal") < 0).as("v"))
      .select(row("customer.acctbal_nonneg", col("c"), col("v")).as("r"))
    qty.union(pk).union(fkShip).union(status).union(acct)
      .select(col("r.rule").as("rule"), col("r.checked").as("checked"),
        col("r.violations").as("violations"))
      .withColumn("pass", col("violations") === 0)
      .orderBy("rule")
  }

  /** Pareto-frontier data selection: the documents not dominated on
    * (quality HIGH, token cost LOW) — a doc is dominated when some other
    * doc is at least as good on both axes and strictly better on one.
    * This is the two-objective version of every "best data under a token
    * budget" curation decision: the frontier is exactly the set of
    * rational picks, whatever the budget; everything below it is
    * strictly wasted tokens. Quality is `q_text_quality`'s composite
    * (rational arithmetic, round 4dp — cross-engine bit-exact, so the
    * level equi-join below is safe on the rounded double).
    *
    * Scale design: dominance is NOT a pairwise self-join (the naive
    * O(n²) anti-join plans a nested loop). Docs collapse to QUALITY
    * LEVELS first (one map-side-combined groupBy: level → min tokens);
    * the frontier condition then reads off the level table — strict_min
    * = running min of lvl_min over strictly-higher levels — with one
    * unpartitioned window over the LEVEL table, bounded by the score's
    * 4dp codomain (≤ 10⁴ rows whatever the corpus), then one broadcast
    * join back to the docs. Corpus touched twice, shuffled once. */
  /** Head-of-distribution selection: per language, keep the
    * highest-quality documents until they cover half the language's
    * character mass — the "ration the budget toward the head" curation
    * policy (`q_domain_cap` bounds by COUNT per group; this bounds by
    * cumulative VOLUME, which is what a token budget actually is).
    *
    * Determinism at the boundary: the walk order is (quality DESC,
    * doc_id) on the 4dp-rounded score, and the coverage cut is the
    * exact-integer comparison 2·(cum−n) < lang_total — a row is in the
    * head iff the mass BEFORE it is under half, so the crossing row is
    * included and no float threshold sits near the decision.
    *
    * Scale shape (r11): the cumulative mass rides
    * [[RankOps.withKeyedPrefixSum]] — a range-partitioned two-phase
    * prefix sum in the (lang, quality DESC, doc_id) total order, so a
    * language's slice is P parallel sorts of n/P plus a bounded
    * per-(partition, lang) census, never ONE task holding the whole
    * language (the former `PARTITION BY lang` window serialized
    * exactly that; the ≤10⁴-level histogram cut SURVEY describes
    * remains the approximation when even a range exchange is too
    * dear — this shape keeps the boundary EXACT for the same
    * oracle). */
  def selectHead(s: SparkSession, d: String): DataFrame = {
    val t = split(col("text"), " ")
    val nTok = size(t)
    val stopRatio =
      size(filter(t, x => x.isin("a", "the"))).cast("double") / nTok
    val scored = documents(s, d).select(
      col("doc_id"), col("lang"), col("n_chars"),
      round(least(lit(1.0), nTok / lit(100.0)) * (lit(1) - stopRatio), 4)
        .as("quality"))
    RankOps.withKeyedPrefixSum(scored, "lang", "n_chars",
        "cum_chars", "lang_chars", col("quality").desc, col("doc_id"))
      .filter(lit(2) * (col("cum_chars") - col("n_chars"))
        < col("lang_chars"))
      .select(col("doc_id"), col("lang"), col("quality"), col("n_chars"),
        col("cum_chars"),
        round(col("cum_chars").cast("double")
          / col("lang_chars").cast("double"), 6).as("cum_share"))
      .orderBy("lang", "cum_chars", "doc_id")
  }

  def selectFrontier(s: SparkSession, d: String): DataFrame = {
    val t = split(col("text"), " ")
    val nTok = size(t)
    val stopRatio =
      size(filter(t, x => x.isin("a", "the"))).cast("double") / nTok
    val scored = documents(s, d).select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      round(least(lit(1.0), nTok / lit(100.0)) * (lit(1) - stopRatio), 4)
        .as("quality"))
    val lvl = scored.groupBy("quality").agg(min("n_tokens").as("lvl_min"))
    val strictW = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lvl2 = lvl.withColumn("strict_min", min("lvl_min").over(strictW))
    scored.join(broadcast(lvl2), Seq("quality"))
      .filter(!((col("strict_min").isNotNull &&
          col("strict_min") <= col("n_tokens")) ||
        col("lvl_min") < col("n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .orderBy("doc_id")
  }

  /** Size-balanced shard export with a delivery manifest — the final
    * "hand the corpus to the trainer" act. Docs are hash-assigned to 8
    * shards by the stable md5 family (row-local, reproducible, stable
    * under corpus growth — `q_split_hash`'s property), ACTUALLY written
    * as a `partitionBy(shard)` parquet layout, and the manifest (doc
    * count, char volume, min/max id, content checksum) is computed FROM
    * THE WRITTEN FILES — the query certifies the round trip, not the
    * intent. The checksum is an ORDER-INDEPENDENT exact integer (Σ of
    * md5-prefix ints per doc): any engine, any cluster layout, any
    * shard-internal file order produces the identical value, which is
    * what makes the manifest usable as a cross-system delivery receipt.
    *
    * Scale shape: assignment is a scan-stage projection (no shuffle
    * before the write's own partitioning); the write is the one
    * corpus-moving act; the manifest agg is map-side combined over the
    * written files. At 100 TB the same query shards by
    * `pmod(hash, n_shards)` with n_shards sized to ~1 GB files. */
  def exportShards(s: SparkSession, d: String): DataFrame = {
    val dir = graft.sources.SourceQueries.scratch(d, "export_shards")
    val assigned = documents(s, d).select(
      col("doc_id"), col("text"), col("n_chars"),
      pmod(conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(8L))
        .as("shard"))
    assigned.write.mode("overwrite").partitionBy("shard").parquet(dir)
    // Explicit schema: an empty corpus writes no shard files and the
    // manifest must come back as zero rows, not a schema-inference
    // failure (EmptyInputSpec).
    s.read.schema(assigned.schema).parquet(dir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(conv(substring(md5(col("text").cast("binary")), 1, 8),
          16, 10).cast("long")).as("checksum"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard")
  }

  /** Temperature-flattened language sampling — the multilingual data-mix
    * policy: the raw language share p_l = n_l/N is flattened to
    * q_l ∝ p_l^α so low-resource languages are upsampled relative to
    * their corpus share (every multilingual pretraining recipe applies
    * some α < 1 here; the reference, a single-topic Kafka echo
    * /root/reference/main.py:86-108, has no mixing policy — north-star
    * extension surface).
    *
    * α = 1/2 is CHOSEN so the exponent is `sqrt`, which IEEE-754
    * guarantees correctly rounded on every engine — a cross-engine
    * closed form must never use libm `pow`, whose last-ulp behavior
    * differs between engines (the q_agg_skewkurt rule). The normalizer
    * Σ√n_l sums a handful of doubles (one per language) — ulp-level
    * drift only, well inside the 4dp rounding. `alloc_docs` (the
    * language's slice of a 10k-doc sampling budget) is computed from the
    * ROUNDED share: 10⁴ · round(q, 4) is integral up to one ulp, so the
    * final round-to-integer can never straddle a .5 boundary and the
    * allocation is engine-independent.
    *
    * Scale: the corpus is touched exactly once by the map-side-combined
    * lang count agg; the (N, Σ√n) scalar rides back onto the ≤#langs
    * table via a broadcast 1-row cross join (PlanGuard allowlist, the
    * q_tfidf pattern) and the whole closed form runs on KB of data at
    * any corpus size. */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val cnt = documents(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = cnt.agg(
      sum("n_docs").as("n_total"),
      sum(sqrt(col("n_docs").cast("double"))).as("s_root"))
    val p = col("n_docs").cast("double") / col("n_total").cast("double")
    val q = sqrt(col("n_docs").cast("double")) / col("s_root")
    cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        round(p, 4).as("p_raw"),
        round(q, 4).as("p_temp"),
        round(q / p, 4).as("boost"),
        round(lit(10000) * round(q, 4), 0).cast("long").as("alloc_docs"))
      .orderBy("lang")
  }

  /** Importance-reweighted data selection — the hashed n-gram
    * importance-sampling shape behind domain-targeted pretraining-data
    * selection: candidate documents are ranked by how much more likely
    * their hashed-bigram profile is under the TARGET domain than under
    * the raw corpus. Target = the pseudo-benchmark split
    * (`q_contamination`'s doc_id ≡ 0 mod 97); candidates = everything
    * else.
    *
    * Determinism by construction: per-bucket log-likelihood-ratio
    * weights w_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)) over B = 64
    * md5 buckets (`q_freq_cms`'s explicit hash family) are the ONLY
    * float computation, and each is rounded ONCE to integer 10⁻⁴-nat
    * units on the 64-row weight table. Every doc score is then the
    * exact BIGINT dot product Σ c_b·w_b — order-independent across
    * partitions, layouts, and engines (the integer-moments playbook:
    * large unordered double sums are never hash-stable, so the floats
    * end before the corpus-sized aggregation begins).
    *
    * Scale: the corpus is exploded to hashed-bigram buckets once and
    * reduced immediately by the map-side-combined (doc, bucket) count
    * agg — the one corpus-sized shuffle. That table is checkpointed
    * (the ngramPairScores lesson: ReuseExchange does not deduplicate
    * multi-consumer subtrees under AQE) and serves all four consumers:
    * raw/target bucket marginals and the scalar totals (64-row /
    * 1-row), and the candidate score agg. The weight table broadcasts
    * into the score join; top-200 is TakeOrdered (never a global sort),
    * ranked locally on the 200-row result. */
  def selectDsir(s: SparkSession, d: String): DataFrame = {
    val B = 64L
    val toks = split(col("text"), " ")
    val bgc = documents(s, d)
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(97)) === 0).as("is_t"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("is_t"),
        explode(TextQueries.ngrams(col("toks"), 2)).as("bg"))
      .select(col("doc_id"), col("is_t"),
        pmod(conv(substring(md5(col("bg").cast("binary")), 1, 4),
          16, 10).cast("long"), lit(B)).as("b"))
      .groupBy("doc_id", "is_t", "b").agg(count(lit(1)).as("c"))
      .transform(Materialize("selectDsir.bucketCounts"))
    val raw = bgc.groupBy("b").agg(sum("c").as("rb"))
    val tgt = bgc.filter(col("is_t")).groupBy("b").agg(sum("c").as("tb"))
    val tots = bgc.agg(
      sum("c").as("rt"),
      sum(when(col("is_t"), col("c")).otherwise(0L)).as("tt"))
    val w = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("b"),
        round((log((coalesce(col("tb"), lit(0L)) + 1).cast("double")
            / (col("tt") + B).cast("double"))
          - log((col("rb") + 1).cast("double")
            / (col("rt") + B).cast("double"))) * 10000, 0)
          .cast("long").as("w"))
    val sc0 = bgc.filter(!col("is_t"))
      .join(broadcast(w), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        sum(col("c") * col("w")).as("score_e4"))
    val top = sc0
      .orderBy(col("score_e4").desc, col("doc_id")).limit(200)
    top.withColumn("rnk",
        row_number().over(
          Window.orderBy(col("score_e4").desc, col("doc_id")))
          .cast("long"))
      .orderBy("rnk")
  }

  /** JSON-lines corpus export with round-trip certification — the
    * format trainers actually ingest ([[exportShards]] hands over
    * parquet; every open-weights data drop ships JSONL). Same stable
    * md5 shard assignment, written as a `partitionBy(shard)` JSON-lines
    * layout, read back under an EXPLICIT schema, manifest computed from
    * the WRITTEN files — so JSON string escaping itself is under test:
    * one mangled quote, newline, or unicode escape anywhere in the
    * encode/parse loop and the re-parsed-text checksum diverges from
    * the clean-table oracle. */
  def exportJsonl(s: SparkSession, d: String): DataFrame = {
    val dir = graft.sources.SourceQueries.scratch(d, "export_jsonl")
    val assigned = documents(s, d).select(
      col("doc_id"), col("text"), col("n_chars"),
      pmod(conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(8L))
        .as("shard"))
    assigned.write.mode("overwrite").partitionBy("shard").json(dir)
    s.read.schema(assigned.schema).json(dir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(conv(substring(md5(col("text").cast("binary")), 1, 8),
          16, 10).cast("long")).as("checksum"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard")
  }

  /** Model-based quality gate: a fixed-weight linear classifier (the
    * fastText-quality-filter shape) over engineered per-doc features —
    * stopword rate, mean token length, digit fraction, distinct-token
    * ratio — emitting the margin and a keep/drop decision per doc.
    *
    * The sigmoid is deliberately dropped: it is monotone, so the
    * DECISION is the sign of the margin and the gate never depends on
    * libm `exp` (which differs in last ulps across engines — the
    * boundary-flip risk SURVEY §7.5 exists to kill). Every feature is
    * an exact rational (division of exact integers — correctly-rounded
    * IEEE, bit-identical), the margin one shared double tree over fixed
    * decimal weights, emitted unrounded.
    *
    * Scale shape: ZERO shuffles — the entire classifier is scan-stage
    * codegen, which is the 100 TB point: model-based filtering at full
    * scan throughput, no model serving, no pair joins. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val t = split(col("text"), " ")
    val nTok = size(t).cast("long")
    val nStop = size(filter(t, x => x.isin("a", "the"))).cast("long")
    val stopRate = nStop.cast("double") / nTok.cast("double")
    val meanLen = length(regexp_replace(col("text"), " ", ""))
      .cast("double") / nTok.cast("double")
    // Zero-length guard: ''-text would make this 0/0 — Spark NaN vs
    // DuckDB NULL. Both engines fold the empty doc to 0.0.
    val digitFrac = when(length(col("text")) > 0,
      (length(col("text"))
        - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
        length(col("text")).cast("double")).otherwise(lit(0.0))
    val distinctRatio = size(array_distinct(t)).cast("double") /
      nTok.cast("double")
    val margin = lit(-3.0) + lit(4.0) * stopRate + lit(0.5) * meanLen -
      lit(6.0) * digitFrac + lit(2.0) * distinctRatio
    documents(s, d).select(
        col("doc_id"),
        stopRate.as("stop_rate"),
        meanLen.as("mean_tok_len"),
        digitFrac.as("digit_frac"),
        distinctRatio.as("distinct_ratio"),
        margin.as("margin"),
        (margin > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** k-anonymity audit (k=5) over declared quasi-identifiers — nation ×
    * market segment × coarse balance bucket on customer. A quasi-ID
    * combination shared by fewer than k people re-identifies them; this
    * is the privacy gate a table passes BEFORE it ships as training
    * data, and the audit quantifies exactly that risk: per segment, the
    * equivalence-class census (classes, at-risk classes, rows inside
    * them, the re-identifiable share, smallest/largest class).
    *
    * Scale shape: two-level reduction. The only corpus-scale shuffle is
    * the class-count agg keyed by the quasi-ID tuple (map-side
    * combinable — the tuple domain, not the row count, reaches the
    * wire); the summary agg then runs on the classes frame, bounded by
    * the quasi-ID domain (≤ 25·5·11 here) whatever the corpus size. */
  def dqKanon(s: SparkSession, d: String): DataFrame = {
    val classes = customer(s, d)
      .select(col("c_mktsegment").as("segment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .groupBy("segment", "c_nationkey", "bal_bucket")
      .agg(count(lit(1)).as("n"))
    classes.groupBy("segment")
      .agg(
        count(lit(1)).as("n_classes"),
        count_if(col("n") < 5).as("n_at_risk_classes"),
        sum("n").as("n_rows"),
        coalesce(sum(when(col("n") < 5, col("n"))), lit(0L))
          .as("n_rows_at_risk"),
        min("n").as("min_class"),
        max("n").as("max_class"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") /
          col("n_rows").cast("double"), 6))
      .orderBy("segment")
  }

  /** l-diversity audit (l=3) — k-anonymity's sensitive-attribute
    * companion: a class of 50 people all sharing one diagnosis is
    * 50-anonymous yet fully disclosed; what protects them is DIVERSITY
    * of the sensitive value inside each quasi-ID class. Quasi-IDs =
    * (nation, coarse balance bucket), sensitive = market segment;
    * per-nation census of classes, classes with l < 3, rows inside
    * them, the worst class diversity, and the disclosure-risk share.
    *
    * Scale shape: [[dqKanon]]'s two-level reduction with one extra
    * map-side distinct — the (quasi-ID, sensitive) domain is bounded,
    * so the exact distinct count never shuffles raw rows twice. */
  def dqLdiversity(s: SparkSession, d: String): DataFrame = {
    val classes = customer(s, d)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
        col("c_mktsegment").as("seg"))
      .groupBy("c_nationkey", "bal_bucket")
      .agg(count(lit(1)).as("n"), countDistinct(col("seg")).as("l"))
    classes.groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_classes"),
        count_if(col("l") < 3).as("n_low_diversity"),
        sum("n").as("n_rows"),
        coalesce(sum(when(col("l") < 3, col("n"))), lit(0L))
          .as("n_rows_at_risk"),
        min("l").as("min_l"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") /
          col("n_rows").cast("double"), 6))
      .orderBy("c_nationkey")
  }

  /** t-closeness audit (t=0.3, total-variation distance) — the third
    * member of the classic privacy triple: k-anonymity bounds class
    * SIZE, l-diversity the sensitive-value COUNT, t-closeness the
    * class's sensitive DISTRIBUTION's distance from the global one (a
    * class that is 90% one segment leaks attacker belief even with
    * three distinct values present). TV(class) = ½·Σ|p_class −
    * p_global| over the segment domain, rounded 6 BEFORE the
    * t-threshold compare so both engines band identically.
    *
    * Scale shape: one corpus keyed agg to the (class, segment) counts;
    * the TV grid is the BOUNDED classes frame crossed with the 5-row
    * broadcast segment distribution — never a corpus-scale cross. */
  def dqTcloseness(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d).select(col("c_nationkey"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
      col("c_mktsegment").as("seg"))
    // Global segment distribution without a driver-side action: the
    // total rides a window over the 5-row segment frame.
    val global = cust.groupBy("seg").agg(count(lit(1)).as("nseg"))
      .select(col("seg"), (col("nseg").cast("double") /
        sum("nseg").over(Window.partitionBy()).cast("double")).as("pg"))
    val cs = cust.groupBy("c_nationkey", "bal_bucket", "seg")
      .agg(count(lit(1)).as("n_cs"))
    val cls = cs.groupBy("c_nationkey", "bal_bucket")
      .agg(sum("n_cs").as("n_c"))
    val grid = cls.crossJoin(broadcast(global))
      .join(cs, Seq("c_nationkey", "bal_bucket", "seg"), "left")
      .select(col("c_nationkey"), col("bal_bucket"), col("n_c"),
        abs(coalesce(col("n_cs"), lit(0L)).cast("double") /
          col("n_c").cast("double") - col("pg")).as("dev"))
    val tv = grid.groupBy("c_nationkey", "bal_bucket", "n_c")
      .agg(round(sum(col("dev")) * 0.5, 6).as("tv"))
    tv.groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_classes"),
        count_if(col("tv") > 0.3).as("n_fail"),
        coalesce(sum(when(col("tv") > 0.3, col("n_c"))), lit(0L))
          .as("n_rows_at_risk"),
        round(max("tv"), 6).as("worst_tv"))
      .orderBy("c_nationkey")
  }

  /** Domain-blocklist gate: the first removal pass of every crawl
    * pipeline — licensing takedowns, spam domains, and opt-outs leave
    * BEFORE any expensive content analysis runs. Documents are probed
    * against a reasoned blocklist dim (source → reason); the output is
    * the complete audit trail: per (lang, verdict, reason) doc and char
    * counts, kept rows carrying verdict='kept'.
    *
    * Scale shape: the blocklist is KB-scale whatever the corpus, so it
    * rides to every executor as a broadcast-hash side and the gate costs
    * one row-local probe inside the scan stage — corpus content never
    * shuffles for the gate itself, only the (lang, verdict, reason)
    * counts reach the wire (map-side combined). */
  def filterBlocklist(s: SparkSession, d: String): DataFrame = {
    val block = s.createDataFrame(Seq(
      ("src3", "licensing"),
      ("src7", "spam"),
      ("src12", "optout")
    )).toDF("source", "reason")
    documents(s, d)
      .join(broadcast(block), Seq("source"), "left")
      .select(col("lang"),
        when(col("reason").isNull, "kept").otherwise("removed")
          .as("verdict"),
        coalesce(col("reason"), lit("-")).as("reason"),
        col("n_chars"))
      .groupBy("lang", "verdict", "reason")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang", "verdict", "reason")
  }

  /** Deterministic epoch-order interleave — the data-mixing scheduler
    * that turns per-source budgets into an actual consumption ORDER:
    * each doc is ranked within its language by md5 (the unbiased stable
    * shuffle, q_domain_cap's trick), and the training order is
    * (round, lang) — round r takes one doc from every language before
    * any language sends its (r+1)-th. Contiguous same-source runs
    * destabilize training; round-robin interleave is the standard fix.
    * Audit output: the first 64 global positions.
    *
    * Scale shape (r11, the q_domain_cap swap): only per-lang ranks ≤ 64
    * can reach the first 64 positions, so the per-lang rank IS a
    * per-lang top-64 — the native bounded-heap `graft_topk_by`
    * aggregate over the 52-bit md5 prefix (exactly double-representable;
    * the oracle ranks by the same prefix, so the keep order is
    * engine-identical at any scale). A language holding half the corpus
    * costs one 64-slot heap, never a window sort of its partition. The
    * GLOBAL order window then runs on the ≤ 64·L heap output (L =
    * language count — bounded, not corpus-scaled), never on the corpus.
    * A full-epoch schedule at scale is a sortWithinPartitions by
    * (rnd, lang) under a range partitioner on rnd — same total order,
    * no single-partition window. */
  def interleaveMix(s: SparkSession, d: String): DataFrame = {
    val pfx = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")
    val global = Window.orderBy(col("rnd"), col("lang"), col("doc_id"))
    documents(s, d)
      .select(col("lang"), col("doc_id"), pfx.as("pfx"))
      .groupBy("lang")
      .agg(call_function("graft_topk_by",
        -col("pfx").cast("double"), col("doc_id"), lit(64)).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("t.id").as("doc_id"), col("lang"),
        (col("p") + 1).cast("long").as("rnd"))
      .select(col("doc_id"), col("lang"), col("rnd"),
        row_number().over(global).cast("long").as("position"))
      .filter(col("position") <= 64)
      .orderBy("position")
  }

  /** Greedy k-center (farthest-point-first) coreset selection, k=4 —
    * the DIVERSITY member of the data-selection family
    * (`q_select_head` buys coverage mass, `q_select_frontier` Pareto
    * tradeoffs, `q_select_dsir` distribution match; k-center maximizes
    * SPREAD — the classic 2-approximation to the NP-hard k-center
    * objective, the standard seed for diverse few-shot pools and
    * sample-efficient labeling).
    *
    * Determinism: next center = argmax over the corpus of min
    * distance² to the chosen set, tie → min id (total order);
    * distance² = ∥a∥²+∥c∥²−2a·c with norms precomputed ONCE and the
    * dot the codegen'd `graft_vec_dot` — the SAME ordered-summation
    * tree as the twin's list arithmetic (the `q_dedup_cc` edge
    * precedent), so raw-double argmax decisions cannot diverge.
    *
    * Scale: each round is one ≤k-row broadcast cross against the
    * corpus (scan-stage distance, PlanGuard-allowlisted), one keyed
    * min agg, and a 1-row argmax reduction; center state is
    * checkpointed per round (the k-means lineage discipline). The
    * final census re-assigns in one pass and emits each center's
    * cluster size and coverage radius — max(d2) over the corpus IS the
    * k-center objective value. */
  def selectKcenter(s: SparkSession, d: String): DataFrame = {
    val dot = (a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =>
      call_function("graft_vec_dot", a, b)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nrm2"))
      .transform(Materialize("selectKcenter.points"))
    val d2 = col("nrm2") + col("c_nrm2") -
      lit(2.0) * dot(col("embedding"), col("c_emb"))
    var centers = e.orderBy("vec_id").limit(1)
      .select(lit(1).as("center_rank"), col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("nrm2").as("c_nrm2"))
      .transform(Materialize("selectKcenter.seed"))
    for (r <- 2 to 4) {
      val dmin = e.crossJoin(broadcast(centers))
        .select(col("vec_id"), d2.as("d2"))
        .groupBy("vec_id").agg(min("d2").as("dmin"))
      val next = dmin
        .agg(min(struct((-col("dmin")).as("nd"), col("vec_id").as("id")))
          .as("b"))
        .select(col("b.id").as("vec_id"))
      val grown = next.join(e, Seq("vec_id"))
        .select(lit(r).as("center_rank"), col("vec_id").as("c_id"),
          col("embedding").as("c_emb"), col("nrm2").as("c_nrm2"))
      centers = centers.unionByName(grown)
        .transform(Materialize("selectKcenter.centers"))
    }
    val asg = e.crossJoin(broadcast(centers))
      .select(col("vec_id"),
        struct(d2.as("d2"), col("center_rank").as("rk")).as("cand"))
      .groupBy("vec_id").agg(min("cand").as("b"))
      .select(col("vec_id"), col("b.rk").as("center_rank"),
        col("b.d2").as("d2"))
    asg.groupBy("center_rank")
      .agg(count(lit(1)).as("n_points"),
        round(max("d2"), 6).as("coverage_d2"))
      .join(broadcast(centers.select(col("center_rank"), col("c_id"))),
        Seq("center_rank"))
      .select(col("center_rank"), col("c_id"), col("n_points"),
        col("coverage_d2"))
      .orderBy("center_rank")
  }

  /** Greedy maximum-coverage selection (k = 4 over a top-8 candidate
    * pool): pick the documents whose UNION of distinct tokens covers the
    * most vocabulary — the submodular COVERAGE objective completing the
    * selection family's objective space (`q_select_head` buys mass,
    * `q_select_frontier` Pareto tradeoffs, `q_select_dsir` distribution
    * match, `q_select_kcenter` geometric spread, `q_embed_mmr` query-
    * relative diversity; max-coverage asks "which few docs TOUCH the
    * most vocabulary" — the classic greedy (1−1/e)-approximation behind
    * seed-set and eval-suite selection).
    *
    * Scale design: the corpus collapses to (doc, distinct-token) pairs
    * in one shuffle; the candidate pool is a DECLARED top-8 cut by
    * distinct-token count (the MMR pool discipline — production tunes
    * the pool, the greedy is pool-local), so all four rounds run on
    * pool-sized frames. Determinism: gains are EXACT INTEGERS (no
    * floats anywhere), argmax a min-struct (−gain, doc_id), round state
    * checkpoint-cut; zero-gain candidates stay rankable via the
    * left-join conditional count (an anti-join would silently drop
    * them). Fully oracled as unrolled CTE rounds. */
  def selectMaxcover(s: SparkSession, d: String): DataFrame = {
    val dt = documents(s, d)
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 1).distinct()
    val counts = dt.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val pool = counts.orderBy(col("n_tokens").desc, col("doc_id"))
      .limit(8)
    // Round-10 shape: once the pool cut has reduced the problem to ≤8
    // candidates (a DECLARED bound, like the pca_power cov reduction),
    // the four greedy rounds run INSIDE one compiled expression
    // (MaxCoverGreedy) over a single collected candidate row — the
    // previous round-by-round DataFrame loop paid 13 localCheckpoint
    // materializations of KB-sized frames (measured 2.3 s at sf0.1,
    // virtually all scheduling). Decisions identical: exact integer
    // gains, (gain DESC, doc_id ASC) argmax, union'd covered set —
    // hash-match unchanged. sort_array normalizes collect_list's
    // partition-order nondeterminism (doc_id leads the struct, a total
    // order); the kernel's argmax makes candidate order irrelevant
    // anyway.
    val cands = dt.join(broadcast(pool), Seq("doc_id"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(collect_list(col("tok")).as("toks"))
      .agg(sort_array(collect_list(struct(col("doc_id"),
        col("n_tokens"), col("toks")))).as("cands"))
    cands
      .select(explode(call_function("graft_maxcover_greedy",
        col("cands"), lit(4))).as("p"))
      .select(col("p.rank"), col("p.doc_id"), col("p.n_tokens"),
        col("p.gain"), col("p.covered_total"))
      .orderBy("rank")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES),
    * k = 100 docs drawn with probability proportional to n_chars — the
    * length-proportional draw a token-budgeted pipeline uses so the
    * SAMPLE's token mass, not its doc count, tracks the budget
    * (`q_sample_hash` draws uniformly; this is the importance-weighted
    * member of the sampling family). A-ES: each row gets one uniform
    * u ∈ (0,1) and priority u^(1/w); the k largest priorities ARE a
    * weighted sample without replacement — a single scan + top-k, no
    * sequential reservoir, no coordination, which is why it is THE
    * distributed weighted-sampling algorithm.
    *
    * Determinism (SURVEY §7.5): u derives from the same stable md5 draw
    * as `q_sample_hash` — the first 8 hex chars as a 32-bit integer,
    * (h + 0.5) / 2³² (exact in double: h + 0.5 is representable, the
    * divisor a power of two; never 0 or 1) — and the rank key is
    * ln(u)/w (monotone in u^(1/w)), rounded once to 9dp with doc_id
    * tiebreak, so both engines select the identical set in the
    * identical order (the single-`ln` rounding rule, cf. q_text_pmi).
    * Scale: scan-stage key arithmetic + TakeOrdered k — O(k) state per
    * map task, no shuffle of the corpus, no window over anything wider
    * than the 100-row result. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val skey = round(log(u) / col("n_chars").cast("double"), 9)
    documents(s, d)
      .select(col("doc_id"), col("n_chars").as("weight"),
        skey.as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(100)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("skey").desc, col("doc_id")))
        .cast("long"))
      .orderBy("rank")
  }

  /** Epoch allocation under a token budget — the data-constrained
    * scaling plan (`q_mix_temperature` outputs sampling SHARES; this
    * turns them into per-language REPEAT factors): given a training
    * budget of 2× the corpus's token mass and the α = ½ temperature
    * shares, each language's desired token allocation either fits
    * within an epoch cap of 2 (repeating a slice more than a few times
    * stops helping — the data-constrained-LM recipe) or caps out and
    * reports its deficit, the number the mix designer reads to decide
    * where new crawling effort goes.
    *
    * Determinism: token masses are exact integers; the share q is
    * sqrt-based (correctly rounded, never libm pow — the
    * q_mix_temperature rule) and rounded ONCE at 4dp; desired tokens =
    * round(2T · round(q,4)) is integral up to one ulp; everything
    * downstream (planned, deficit) is exact BIGINT min/max arithmetic,
    * and the epochs ratio is one IEEE division rounded 4dp. Scale: one
    * map-side-combined per-lang token agg touches the corpus; the
    * (T, Σ√t) scalar rides back onto the ≤#langs frame via a broadcast
    * 1-row cross join (PlanGuard allowlist, the q_mix_temperature
    * pattern). */
  def mixEpochs(s: SparkSession, d: String): DataFrame = {
    val cnt = documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as("toks_l"))
    val tot = cnt.agg(
      sum("toks_l").as("t_all"),
      sum(sqrt(col("toks_l").cast("double"))).as("s_root"))
    val q = sqrt(col("toks_l").cast("double")) / col("s_root")
    val desired = round(lit(2.0) * col("t_all").cast("double")
      * round(q, 4), 0).cast("long")
    cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("toks_l"),
        round(q, 4).as("share"),
        desired.as("desired_toks"),
        least(desired, lit(2L) * col("toks_l")).as("planned_toks"),
        round(least(desired.cast("double")
          / col("toks_l").cast("double"), lit(2.0)), 4).as("epochs"),
        greatest(desired - lit(2L) * col("toks_l"), lit(0L))
          .as("deficit_toks"))
      .orderBy("lang")
  }

  /** Balanced shard planning for distributed training: sources ranked
    * by token mass and dealt BOUSTROPHEDON (zigzag — 1..8 then 8..1,
    * the classic LPT-style heuristic) across 8 shards, with the
    * per-shard mass, share, and deviation from the ideal 1/8 surfaced
    * — the plan a data-parallel trainer reads before pinning sources
    * to workers (`q_export_shards` hash-shards DOCUMENTS uniformly;
    * this assigns whole SOURCES, the right grain when per-source state
    * — tokenizer caches, dedup indexes, licensing — must stay
    * worker-local, and zigzag dealing keeps the biggest sources from
    * piling onto the same workers the way plain round-robin does).
    *
    * Determinism: token masses exact integers, the rank a total order
    * on (mass DESC, source), the zigzag pure integer arithmetic;
    * share/deviation are single divisions rounded 4dp. Scale: ONE
    * map-side-combined per-source token agg touches the corpus; the
    * rank window and everything after run on the ≤ #sources frame
    * (catalog-bounded — the q_mix_temperature lang-frame argument),
    * with the 1-row total attached by broadcast cross (PlanGuard
    * allowlist). */
  def shardBalance(s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val src = documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("toks"))
    val r = row_number().over(
      Window.orderBy(col("toks").desc, col("source")))
    val pos = (r - 1) % (2 * nShards)
    val shard = when(pos < nShards, pos)
      .otherwise(lit(2 * nShards - 1) - pos)
    val perShard = src
      .select(col("source"), col("toks"), shard.cast("long").as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_sources"), sum("toks").as("tokens"))
    val tot = perShard.agg(sum("tokens").as("t_all"))
    perShard.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_sources"), col("tokens"),
        round(col("tokens").cast("double")
          / col("t_all").cast("double"), 4).as("share"),
        round((col("tokens").cast("double") * nShards
          - col("t_all").cast("double"))
          / col("t_all").cast("double"), 4).as("dev_from_ideal"))
      .orderBy("shard")
  }

  /** Ordered rule-stack drop attribution — the C4/Gopher-style cleaning
    * WATERFALL: five gates in declared order (too-short, too-long,
    * mean-token-length band, stopword floor, repetition ceiling), each
    * doc attributed to its FIRST failing rule, per-stage kill counts /
    * token mass / corpus fraction / survivors-after emitted as the
    * funnel table every crawl-cleaning pass publishes. `q_dq_rules`
    * counts violations per INDEPENDENT rule; this is the sequential
    * attribution where a doc killed by gate 1 never reaches gate 2 —
    * the number that tells a curator which threshold to tune first.
    *
    * Determinism: every gate is pure integer arithmetic on scan-stage
    * signals — mean token length compares letters = n_chars−(nt−1)
    * against 3·nt / 8·nt by cross-multiplication, never a float; the
    * verdict is one CASE whose order IS the stage order. Scale: one
    * map-side-combined per-verdict agg collapses the corpus to ≤6
    * rows; survivors ride a killed-only cumulative window over that
    * bounded frame (+ a 1-row total broadcast cross, PlanGuard
    * allowlist). */
  def filterWaterfall(s: SparkSession, d: String): DataFrame = {
    val tc = split(col("text"), " ")
    val nt = size(tc).cast("long")
    val nd = size(array_distinct(tc)).cast("long")
    val stopCnt = size(filter(tc, x => x.isin("a", "the"))).cast("long")
    val letters = col("n_chars") - (nt - 1L)
    val stage = when(nt < 8L, 1)
      .when(nt > 50L, 2)
      .when(letters < nt * 3L || letters > nt * 8L, 3)
      .when(stopCnt * 50L < nt, 4)
      .when(nd * 2L < nt, 5)
      .otherwise(6)
    val st = documents(s, d)
      .select(stage.as("stage"), nt.as("nt"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"))
    val tot = st.agg(sum("n_docs").as("t_docs"))
    val w = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st.crossJoin(broadcast(tot))
      .withColumn("cum_killed", coalesce(
        sum(when(col("stage") <= 5, col("n_docs"))).over(w), lit(0L)))
      .select(col("stage").cast("long").as("stage"),
        when(col("stage") === 1, "short")
          .when(col("stage") === 2, "long")
          .when(col("stage") === 3, "word_len")
          .when(col("stage") === 4, "low_stop")
          .when(col("stage") === 5, "repetitive")
          .otherwise("keep").as("verdict"),
        col("n_docs"), col("tokens"),
        round(col("n_docs").cast("double")
          / col("t_docs").cast("double"), 4).as("frac"),
        (col("t_docs") - col("cum_killed")).as("n_after"))
      .orderBy("stage")
  }

  /** Loss-adaptive domain reweighting — the DoReMi-family excess-loss
    * recipe (`q_mix_temperature` reweights by MASS alone; this moves
    * weight toward domains a reference model finds HARD): per-language
    * baseline share b_l = tokens/T, difficulty proxy L_l = mean per-doc
    * distinct-token ratio (a deterministic stand-in for reference-model
    * loss — the operator is the reweighting math), excess = L_l −
    * Σ b_l·L_l, weight ∝ b_l·e^(η·excess) normalized, η = 4.
    *
    * Determinism: per-doc ratios are quantized to 1e-6 units at the
    * scan (exact rational per doc), the Σb·L terms and raw weights to
    * 1e-9 units before their cross-language sums (a raw double sum
    * over even the ≤#langs frame is partition-order-dependent); the
    * one libm exp receives engine-identical inputs and sits inside the
    * 1e-9 weight quantization + 4dp display barrier (the q_dp_laplace
    * rule). Scale: one corpus scan → per-lang map-side-combined agg;
    * everything after runs as windows on the catalog-bounded ≤#langs
    * frame. */
  def mixDro(s: SparkSession, d: String): DataFrame = {
    val tc = split(col("text"), " ")
    val nt = size(tc).cast("long")
    val dr = round(lit(1.0e6) * size(array_distinct(tc)).cast("double")
      / size(tc).cast("double"), 0).cast("long")
    val pl = documents(s, d)
      .select(col("lang"), nt.as("nt"), dr.as("dr_units"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"),
        sum("dr_units").as("dru"))
    val wAll = Window.partitionBy()
    val loss = col("dru").cast("double") /
      (col("n_docs").cast("double") * lit(1.0e6))
    val t = pl.withColumn("t_all", sum("tokens").over(wAll))
      .withColumn("loss", loss)
      .withColumn("bl_units",
        round((col("tokens").cast("double") / col("t_all").cast("double"))
          * (col("dru").cast("double")
            / (col("n_docs").cast("double") * lit(1.0e6)))
          * lit(1.0e9), 0).cast("long"))
    val y = t.withColumn("excess",
      col("loss") - sum("bl_units").over(wAll).cast("double") / lit(1.0e9))
    val z = y.withColumn("w_units",
      round((col("tokens").cast("double") / col("t_all").cast("double"))
        * exp(lit(4.0) * col("excess")) * lit(1.0e9), 0).cast("long"))
    z.select(col("lang"), col("n_docs"), col("tokens"),
        round(col("tokens").cast("double") / col("t_all").cast("double"),
          4).as("base_share"),
        round(col("loss"), 6).as("loss"),
        round(col("excess"), 6).as("excess"),
        round(col("w_units").cast("double")
          / sum("w_units").over(wAll).cast("double"), 4).as("weight"))
      .orderBy("lang")
  }

  /** Fractional-epoch materialization by deterministic stochastic
    * rounding — `q_mix_epochs` PLANS per-language repeat factors (e.g.
    * 1.37 epochs); this turns them into per-document INTEGER copy
    * counts whose expected mass hits the plan exactly: n_copies =
    * ⌊e⌋ + (u < frac(e)), u the stable md5 doc draw. The materializer
    * a data loader actually consumes (a document is read 1 or 2 times,
    * never 1.37), unbiased per doc and reproducible across engines,
    * layouts, and retries (the `q_dp_laplace` RNG-free argument —
    * seeded RNG state is partition-order-dependent; md5 of the key is
    * not).
    *
    * Determinism: epochs ride the EXACT q_mix_epochs tree (4dp-rounded,
    * so floor/frac act on the same double both engines); u =
    * (h+0.5)/2³² is exact (power-of-two divisor, never 0/1); copies and
    * token masses are exact integers. Scale: one map-side-combined
    * per-lang token agg builds the plan (1-row scalar broadcast cross,
    * the q_mix_epochs pattern — PlanGuard allowlist), the ≤#langs plan
    * frame joins back onto the corpus scan AQE-sized, and the draw is
    * scan-stage arithmetic. */
  def sampleReplicate(s: SparkSession, d: String): DataFrame = {
    val cnt = documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as("toks_l"))
    val tot = cnt.agg(
      sum("toks_l").as("t_all"),
      sum(sqrt(col("toks_l").cast("double"))).as("s_root"))
    val q = sqrt(col("toks_l").cast("double")) / col("s_root")
    val desired = round(lit(2.0) * col("t_all").cast("double")
      * round(q, 4), 0).cast("long")
    val pl = cnt.crossJoin(broadcast(tot))
      .select(col("lang"),
        round(least(desired.cast("double")
          / col("toks_l").cast("double"), lit(2.0)), 4).as("epochs"))
    val h = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val copies = floor(col("epochs")).cast("long") +
      when(u < col("epochs") - floor(col("epochs")), 1L).otherwise(0L)
    documents(s, d).join(pl, Seq("lang"))
      .select(col("doc_id"), col("lang"), col("epochs"),
        copies.as("n_copies"),
        (copies * size(split(col("text"), " ")).cast("long"))
          .as("tokens_out"))
      .orderBy("doc_id")
  }

  /** Train/val/test split-leakage audit: per split pair, the number of
    * distinct normalized-text groups present in BOTH splits and the
    * document mass those groups carry — the "my held-out set is in my
    * training set" check every hash-split pipeline runs AFTER dedup
    * but BEFORE eval numbers are trusted. `q_contamination` audits
    * corpus-vs-BENCHMARK overlap; this audits the pipeline's OWN split
    * boundary, which an exact dedup keyed on a different normalization
    * can silently miss. Identity = the `q_dedup_exact` normalization
    * (shared [[TextQueries.normText]] — one source of truth); splits =
    * the `q_split_hash` md5-nibble convention.
    *
    * Scale: the md5 fingerprint of the normalized text is the ONLY
    * shuffle key (the chunkDedup rule — text never shuffles); per-hash
    * split counts ride one map-side-combined agg, the 3-pair counts
    * one conditional-sum rollup to a single row, exploded to the 3-row
    * report. Zero joins, zero windows. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val nib = hex1(col("doc_id"))
    val g = documents(s, d)
      .select(
        md5(TextQueries.normText(col("text")).cast("binary")).as("nh"),
        when(nib.isin("c", "d"), 1)
          .when(nib.isin("e", "f"), 2).otherwise(0).as("sp"))
      .groupBy("nh")
      .agg(sum(when(col("sp") === 0, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("sp") === 1, 1L).otherwise(0L)).as("n_val"),
        sum(when(col("sp") === 2, 1L).otherwise(0L)).as("n_test"))
    val docs = col("n_train") + col("n_val") + col("n_test")
    def pairAgg(a: String, b: String, g2: String, d2: String) = Seq(
      sum(when(col(a) > 0 && col(b) > 0, 1L).otherwise(0L)).as(g2),
      sum(when(col(a) > 0 && col(b) > 0, docs).otherwise(0L)).as(d2))
    val aggs = pairAgg("n_train", "n_val", "tv_g", "tv_d") ++
      pairAgg("n_train", "n_test", "tt_g", "tt_d") ++
      pairAgg("n_val", "n_test", "vt_g", "vt_d")
    val one = g.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(
        struct(lit("train_val").as("pair"),
          col("tv_g").as("n_shared_groups"),
          col("tv_d").as("n_docs_in_shared")),
        struct(lit("train_test").as("pair"),
          col("tt_g").as("n_shared_groups"),
          col("tt_d").as("n_docs_in_shared")),
        struct(lit("val_test").as("pair"),
          col("vt_g").as("n_shared_groups"),
          col("vt_d").as("n_docs_in_shared")))).as("r"))
      .select(col("r.pair").as("pair"),
        col("r.n_shared_groups").as("n_shared_groups"),
        col("r.n_docs_in_shared").as("n_docs_in_shared"))
      .orderBy("pair")
  }

  /** Dataset card (round 14): the per-source documentation rollup every
    * released training corpus ships — doc counts, language breadth,
    * token mass, mean length, and exact-duplicate share, one row per
    * source. The dup share reuses the q_dedup_exact fingerprint
    * (md5 of raw text) counted per (source, digest) via ONE window over
    * the same shuffle key prefix the final groupBy(source) consumes.
    * Scale: two keyed shuffles over scalar columns (never the text —
    * the md5 folds it in the scan stage); output is |sources| rows.
    * Exactness: counts/sums are exact longs; avg_chars and dup_share
    * are single double divisions off exact longs, rounded once. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), md5(col("text")))
    documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        when(count(lit(1)).over(w) > 1, 1L).otherwise(0L).as("is_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_toks")).as("tok_total"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(sum(col("is_dup")).cast("double") / count(lit(1)), 6)
          .as("dup_share"))
      .orderBy("source")
  }

  /** CCNet-style quality buckets (round 14): per-language terciles of a
    * quality score (head/middle/tail — the public CCNet pipeline's
    * perplexity bucketing, with chars-per-token standing in for the LM
    * score so the statistic is exact-rational), the sampling knob a
    * curation pipeline turns to oversample "head" data per language.
    * Tercile assignment over a TOTAL order (score desc, doc_id — ties
    * deterministic) — NOT a per-lang ntile window, whose groups are
    * corpus-scaled (one serialized task per language at 100 TB — the
    * PlanShapeSpec growth sweep flagged exactly this in round 14):
    * instead the two-phase range-partitioned keyed rank
    * ([[RankOps.withKeyedRankAndTotal]], the q_rfm shape) + the exact
    * [[RankOps.ntileFromRank]] arithmetic, which together emit the
    * IDENTICAL ntile(3) values with P parallel sorts of n/P rows.
    * Score DESC rides the negated double (IEEE negation is exact).
    * Then a tiny (lang, bucket) agg. Exactness: the per-doc score is
    * one IEEE double division of two exact longs (identical both
    * engines, never re-aggregated); bucket stats re-derive from exact
    * long sums with ONE final division each, rounded once. */
  def ccnetBucket(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("score",
        col("n_chars").cast("double") / col("n_toks").cast("double"))
      .withColumn("__neg_score", -col("score"))
    val ranked = RankOps.withKeyedRankAndTotal(scored, "lang",
      "__rk", "__n", col("__neg_score"), col("doc_id"))
    ranked
      .withColumn("bucket",
        RankOps.ntileFromRank(col("__rk"), col("__n"), 3))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tok_total"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_toks")), 6)
          .as("cpt"))
      .orderBy("lang", "bucket")
  }

  /** Temporal train/test split audit at the 80% time cutoff — the OTHER
    * standard split next to `q_split_hash`'s random one: time-series and
    * recommendation training must split BY TIME (a random split trains
    * on the future), and the first question about a temporal split is
    * its user leakage — how many test-period users also appear in
    * training (fine for personalization, fatal for cold-start eval).
    * Cutoff = min_ts + (max_ts − min_ts)·8/10 in EXACT epoch-µs integer
    * arithmetic (one 2-value aggregate broadcast back — the
    * q_survival_km max-date pattern); per event type: train/test event
    * counts, distinct users on each side, users on BOTH (the leakage),
    * and leak share of test users.
    *
    * Scale shape: one (type, user) reduce — map-side combined, ≤ |users|
    * × |types| rows — then a tiny per-type rollup; the cutoff compare is
    * a scan-stage integer predicate. No windows, no distincts beyond the
    * keyed reduce. */
  def splitTemporal(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"), col("user_id"),
      unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min("us").as("mn"), max("us").as("mx"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .withColumn("is_train",
        col("us") <= col("mn") + expr("((mx - mn) * 8) div 10"))
      .groupBy("event_type", "user_id")
      .agg(count_if(col("is_train")).as("n_tr"),
        count_if(!col("is_train")).as("n_te"))
    perUser.groupBy("event_type")
      .agg(sum("n_tr").as("n_train"),
        sum("n_te").as("n_test"),
        count_if(col("n_tr") > 0).as("users_train"),
        count_if(col("n_te") > 0).as("users_test"),
        count_if(col("n_tr") > 0 && col("n_te") > 0).as("users_both"))
      .withColumn("leak_frac",
        when(col("users_test") > 0,
          round(col("users_both").cast("double")
            / col("users_test").cast("double"), 4)))
      .orderBy("event_type")
  }
}
