package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorOps._

/** Element-wise sum of fixed-length long arrays as a typed Aggregator
  * (§2.10 tier 3, the TopKOrders precedent): per-partition partials are
  * one n-long array, merged associatively, so a whole-corpus moment
  * vector reduces through the wire as bytes(n·8·partitions) — the
  * reduction shape `q_embed_cov` needs (2145 exact moments in ONE pass)
  * where the explode-and-groupBy formulation shuffled corpus×2080
  * exploded rows into a 2080-key hash agg (benchmarked 2.5 s at sf0.1;
  * this form replaces it). Long addition is associative and commutative
  * — merge order cannot change the result. */
class LongVecSum(n: Int)
    extends Aggregator[Array[Long], Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](n)
  override def reduce(b: Array[Long], a: Array[Long]): Array[Long] = {
    var i = 0; while (i < n) { b(i) += a(i); i += 1 }; b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0; while (i < n) { a(i) += b(i); i += 1 }; a
  }
  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}

/** Dataset versioning, evaluation & retrieval-fusion operators (SURVEY
  * §2.8 round-7 rows) — the release-engineering layer of a training-data
  * pipeline: what changed between corpus releases (`q_corpus_diff`), how
  * a keyed changelog compacts to a snapshot (`q_cdc_snapshot`), whether
  * a candidate quality scorer actually separates classes (`q_eval_auc`),
  * how lexical and dense retrieval fuse (`q_search_rrf`), which
  * embedding dimensions are dead or collinear (`q_embed_cov`), the
  * resampled OHLC summary of a value stream (`q_ts_ohlc`), and the
  * span-level contamination share doc-level dedup misses
  * (`q_dup_span_frac`).
  *
  * Nothing like any of this exists in the 113-line reference
  * (/root/reference/main.py — a Kafka echo demo); the family is the
  * BASELINE.json north-star mandate, EXT provenance throughout.
  *
  * Determinism: SURVEY §7.5 rules — exact integer moments wherever a
  * sum crosses rows (quantized BIGINT components in `q_embed_cov`,
  * doubled-rank integers in `q_eval_auc`, cents in `q_ts_ohlc`),
  * rounded scores with id tiebreaks for every ranking, and boundary
  * rows picked by total orders both engines share.
  */
object VersionQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_diff"   -> corpusDiff _,
    "q_dq_drift_psi"  -> dqDriftPsi _,
    "q_cdc_snapshot"  -> cdcSnapshot _,
    "q_eval_auc"      -> evalAuc _,
    "q_search_rrf"    -> searchRrf _,
    "q_embed_cov"     -> embedCov _,
    "q_embed_pca_power" -> embedPcaPower _,
    "q_ts_ohlc"       -> tsOhlc _,
    "q_dup_span_frac" -> dupSpanFrac _
  )

  // ---------------------------------------------------------------------
  // q_corpus_diff
  // ---------------------------------------------------------------------

  /** Corpus release diff: per language, added / removed / changed /
    * unchanged document counts and the changed-rows character delta
    * between two snapshots of the corpus.
    *
    * Snapshots derive deterministically from the one fixture corpus
    * (v1 = doc_id % 5 ≠ 0; v2 = doc_id % 5 ≠ 1 with every doc_id % 3 = 0
    * text revised) — the same rule in the DuckDB twin, so the diff
    * semantics are what is under test, not fixture plumbing. In
    * production the two sides are two release manifests.
    *
    * Scale: ONE full-outer equi-join on the snapshot key (shuffle on
    * doc_id, AQE handles relative sizes), change detection by md5
    * compare (computed in the scan stage of each side — at 100 TB the
    * hashes live in the release manifest and the text columns never
    * join), then one map-side-combined keyed agg to a languages-sized
    * frame. */
  def corpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    def snap(keep: Column, text: Column) = docs
      .filter(keep)
      .select(col("doc_id"), col("lang"), text.as("text"))
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        length(col("text")).cast("long").as("len"))
    val v1 = snap(col("doc_id") % 5 =!= 0, col("text"))
    val v2 = snap(col("doc_id") % 5 =!= 1,
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text")))
    val j = v1.as("a").join(v2.as("b"), Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("b.lang"), col("a.lang")).as("lang"),
        col("a.h").as("h1"), col("b.h").as("h2"),
        col("a.len").as("l1"), col("b.len").as("l2"))
    val status = when(col("h1").isNull, "added")
      .when(col("h2").isNull, "removed")
      .when(col("h1") =!= col("h2"), "changed")
      .otherwise("unchanged")
    j.withColumn("st", status)
      .groupBy("lang")
      .agg(
        count_if(col("st") === "added").as("n_added"),
        count_if(col("st") === "removed").as("n_removed"),
        count_if(col("st") === "changed").as("n_changed"),
        count_if(col("st") === "unchanged").as("n_unchanged"),
        sum(when(col("st") === "changed", col("l2") - col("l1"))
          .otherwise(lit(0L))).as("chars_delta"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------------
  // q_dq_drift_psi
  // ---------------------------------------------------------------------

  /** Distribution drift between corpus releases: per length-bucket
    * population-stability-index terms between [[corpusDiff]]'s two
    * snapshots. `q_corpus_diff` audits CONTENT (which docs changed);
    * this audits SHAPE — a changed crawler or filter that shifts the
    * length distribution is invisible to a doc-level diff until
    * training degrades, and PSI is the standard drift alarm.
    *
    * Buckets are floor(len/50) capped at 9 (integer, engine-exact);
    * shares are Laplace-smoothed (n+1)/(N+B) so no bucket hits ln(0);
    * the PSI term (p₂−p₁)·ln(p₂/p₁) is emitted PER BUCKET with the
    * conventional >0.2 "investigate" flag on the term — no cross-row
    * float sum anywhere, so every output value is independently
    * engine-exact (ln's last-ulp drift absorbed by round 6, the
    * q_tfidf precedent; the flag compares the ROUNDED term).
    *
    * Scale: two corpus-linear bucket-count aggs; totals ride a window
    * over the ≤10-bucket frame — the corpus is never re-scanned for
    * the normalizer. */
  def dqDriftPsi(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    def buckets(keep: Column, text: Column, n: String) = docs
      .filter(keep)
      .select(least(floor(length(text) / 50), lit(9)).cast("long")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(n))
    val b1 = buckets(col("doc_id") % 5 =!= 0, col("text"), "n1")
    val b2 = buckets(col("doc_id") % 5 =!= 1,
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text")), "n2")
    val w = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val j = b1.join(b2, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .withColumn("t1", sum(col("n1")).over(w))
      .withColumn("t2", sum(col("n2")).over(w))
      .withColumn("nb", count(lit(1)).over(w))
    val p1 = (col("n1") + 1).cast("double") / (col("t1") + col("nb"))
    val p2 = (col("n2") + 1).cast("double") / (col("t2") + col("nb"))
    val term = round((p2 - p1) * log(p2 / p1), 6)
    j.select(col("bucket"), col("n1"), col("n2"),
        round(p1, 6).as("p1"), round(p2, 6).as("p2"),
        term.as("psi_term"), (term > 0.2).as("drifted"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------------
  // q_cdc_snapshot
  // ---------------------------------------------------------------------

  /** Changelog → snapshot (batch CDC apply): the events table replayed
    * as a keyed changelog — key `user_id`, version order (ts, event_id),
    * `error` a tombstone, every other event an upsert of
    * (event_type, value) — compacted to the latest surviving row per
    * key.
    *
    * The reduce is ONE `max(struct(version…, payload…))` per key — the
    * q_agg_argmax discipline: (ts, event_id) is unique so the struct
    * comparison is a total order, partial maxima merge associatively
    * map-side, and the shuffle carries one struct per key per map task.
    * The row_number-window formulation (the oracle twin — identical
    * answer by the shared total order) would shuffle EVERY changelog row
    * to its key's reducer and sort: at 100 TB that is corpus rows vs
    * key-count rows. Tombstones are dropped AFTER the reduce, so a
    * delete that is the latest version genuinely deletes the key. */
  def cdcSnapshot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        max(struct(
          unix_micros(col("ts")).as("v1"), col("event_id").as("v2"),
          col("event_type").as("t"), col("value").as("v"))).as("m"),
        count(lit(1)).as("n_versions"))
      .filter(col("m.t") =!= "error")
      .select(col("user_id"), col("m.t").as("last_type"),
        col("m.v").as("last_value"), col("n_versions"))
      .orderBy("user_id")

  // ---------------------------------------------------------------------
  // q_eval_auc
  // ---------------------------------------------------------------------

  /** ROC-AUC of two candidate quality scorers via the rank-sum
    * (Mann-Whitney U) identity — the evaluation step behind every
    * learned quality/toxicity filter: before a scorer gates a 100 TB
    * corpus, measure whether it separates the classes at all.
    *
    * AUC = (Σ ranks⁺ − P(P+1)/2) / (P·N) with average ranks on ties.
    * Exactness: the DOUBLED average rank 2·rank + (ties − 1) is an
    * integer, so the positive-rank sum is one BIGINT aggregate —
    * order-independent — and the single double division happens once per
    * scorer: auc = (rp2 − P(P+1)) / (2·P·N). Labels are the embedding
    * cluster label's parity; scorers are two embedding coordinates
    * (row-local float→double casts, bit-identical in both engines).
    *
    * Scale: no pair enumeration (naive AUC compares P·N pairs) — one
    * rank sort per scorer and ONE window spec: rank() = 1 + #less and
    * the default RANGE frame's count = #less + #ties, so their sum is the
    * doubled average rank. Peers are the sort's equal keys, so −0.0 and
    * 0.0 tie, as do all NaNs. */
  def evalAuc(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    def scored(name: String, c: Column) = e.select(
      lit(name).as("scorer"), c.cast("double").as("score"),
      (col("label") % 2 === 1).as("pos"))
    val both = scored("dim1", element_at(col("embedding"), 1))
      .unionByName(scored("dim2", element_at(col("embedding"), 2)))
    val wr = Window.partitionBy("scorer").orderBy("score")
    val ranked = both
      .withColumn("r2", rank().over(wr) + count(lit(1)).over(wr))
    ranked.groupBy("scorer")
      .agg(
        count_if(col("pos")).as("p"),
        count_if(!col("pos")).as("n"),
        sum(when(col("pos"), col("r2")).otherwise(lit(0L))).as("rp2"))
      .select(col("scorer"), col("p").as("n_pos"), col("n").as("n_neg"),
        // One-class degenerate input: AUC is undefined when either
        // class is absent — both engines emit NULL (Spark would NaN,
        // DuckDB would NULL-fold; the identical guard removes the
        // latent divergence — the q_ts_cusum lesson).
        when(col("p") > 0 && col("n") > 0,
          round((col("rp2") - col("p") * (col("p") + 1)).cast("double")
            / (lit(2.0) * col("p") * col("n")), 6)).as("auc"))
      .orderBy("scorer")
  }

  // ---------------------------------------------------------------------
  // q_search_rrf
  // ---------------------------------------------------------------------

  /** Reciprocal-rank-fusion hybrid retrieval: the BM25 ranking
    * (q_text_bm25's Okapi scorer, same deterministic probe) fused with
    * the embedding-cosine ranking (vec_id-0 probe, q_sim_topk's codegen
    * cosine) by RRF = Σ 1/(60+rank) — the standard zero-tuning
    * lexical+dense combiner (the retrieval stack behind RAG corpus
    * serving and search-based decontamination). A doc absent from one
    * ranking contributes 0 for it.
    *
    * Determinism: both ranks are row_numbers over (ROUNDED score DESC,
    * id) — total orders — and the fusion arithmetic (1/(60+r), two-term
    * sum) is a fixed expression tree written token-identically in the
    * twin. Scale: the two rank pipelines are corpus-linear (BM25's
    * keyed aggs + broadcast probe terms; one broadcast-probe cosine
    * scan); each rank is RankOps' two-phase distributed rank over
    * (rounded score DESC, id) — a total order, so it emits exactly the
    * unpartitioned `row_number` the twin declares with no
    * single-partition sort anywhere (the round-8 verdict's finding:
    * the previous global windows were corpus-serial at scale). */
  def searchRrf(s: SparkSession, d: String): DataFrame = {
    // Round-10 trim: the two rank lists used to pay withGlobalRank's
    // localCheckpoint + counts pass EACH (2.19 s at sf0.1). Unioned
    // under a scorer tag they share ONE range exchange, ONE
    // materialization, and ONE counts pass (RankOps.withKeyedRank), and
    // the full-outer rank join collapses to a doc_id group-by over the
    // single ranked frame. Rank values are unchanged: each scorer's
    // (score DESC, doc_id) is the same total order ranked before.
    val bm = TextQueries.bm25Scores(s, d)
      .select(col("doc_id"), lit("bm").as("src"), col("score"))
    val e = embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"))
    val cs = e.crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"), lit("cos").as("src"),
        round(cosine(col("embedding"), col("pv")), 4).as("score"))
    val ranked = RankOps.withKeyedRank(bm.unionByName(cs), "src",
      "rnk", col("score").desc, col("doc_id"))
    ranked.groupBy("doc_id")
      .agg(max(when(col("src") === "bm", col("rnk"))).as("rank_bm25"),
        max(when(col("src") === "cos", col("rnk"))).as("rank_cos"))
      .select(col("doc_id"), col("rank_bm25"), col("rank_cos"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("rank_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  // ---------------------------------------------------------------------
  // q_embed_cov
  // ---------------------------------------------------------------------

  /** Embedding-dimension covariance/correlation matrix — the
    * feature-health audit behind whitening/PCA decisions: a dead
    * dimension has ~zero variance, a collinear pair |corr| → 1, and
    * either is wasted embedding budget at 100 TB.
    *
    * All 64·65/2 upper-triangle cells from ONE corpus pass of exact
    * integer moments: components quantized to 10⁻⁴ units via
    * floor(x·10⁴ + 0.5) — floor, not round, because double `round`
    * half-way behavior differs across engines while floor is IEEE-exact
    * in both — so Σqᵢ and Σqᵢqⱼ are order-independent BIGINT sums
    * (|q| ≤ 10⁴ ⇒ |Σqᵢqⱼ| ≤ n·10⁸ ≈ 10¹² at sf0.1 and n·Σ ≈ 10¹⁶ at the
    * closed form — no overflow), and each cell's covariance double is
    * computed ONCE from exact integers. Correlation joins the 64-row
    * diagonal back broadcast. The ×2080 pair explode is map-side (small
    * int structs) feeding a map-side-combined (i, j) agg — the shuffle
    * carries 2080 partial rows per map task, never the exploded corpus. */
  /** The exact covariance cells shared by [[embedCov]] (which decorates
    * them into the audit matrix) and [[embedPcaPower]] (which iterates
    * on them): (i, j, n, cq) for the upper triangle, cq in quantized
    * 1e-8 units, one corpus pass. */
  private def covCellsQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val nMoments = 1 + dim + dim * (dim + 1) / 2
    val q = transform(col("embedding"), x =>
      floor(x.cast("double") * 1e4 + 0.5).cast("long"))
    // Per-row moment payload: [1 (count), q₁..q₆₄, qᵢ·qⱼ for i ≤ j in
    // i-major order] — 2145 longs reduced by ONE LongVecSum pass
    // (map-side array partials; the wire carries one array per
    // partition, never exploded rows).
    val payload = concat(
      array(lit(1L)),
      col("qv"),
      flatten(transform(sequence(lit(1), lit(dim)), i =>
        transform(sequence(i, lit(dim)), j =>
          element_at(col("qv"), i) * element_at(col("qv"), j)))))
    val acc = embeddings(s, d)
      .select(q.as("qv"))
      .select(payload.as("p"))
      .as[Array[Long]]
      .select(new LongVecSum(nMoments).toColumn.name("acc"))
      .toDF("acc")
    // (i, j) → payload slot, Scala-side (the same i-major walk that
    // built the payload); the 2080-row literal dim broadcasts against
    // the 1-row moment vector (PlanGuard-allowlisted 1-row cross).
    val slots = (for { i <- 1 to dim; j <- i to dim } yield (i, j))
      .zipWithIndex.map { case ((i, j), k) => (i, j, k) }
    val slotsDf = broadcast(slots.toDF("i", "j", "k"))
    val cells = acc.crossJoin(slotsDf).select(
      col("i"), col("j"),
      element_at(col("acc"), 1).as("n"),
      element_at(col("acc"), col("i") + 1).as("si"),
      element_at(col("acc"), col("j") + 1).as("sj"),
      element_at(col("acc"), col("k") + lit(dim + 2)).as("sqq"))
    // cov in original units: quantized covariance / 1e8. n > 1 filter:
    // sample covariance is undefined below two rows, and on an EMPTY
    // corpus the aggregator still yields its (all-zero) moment row —
    // both engines must emit zero cells, not a divide-by-zero
    // (EmptyInputSpec; the twin's empty `cells` CTE does the same).
    val covQ = (col("n") * col("sqq") - col("si") * col("sj")).cast("double") /
      (col("n") * (col("n") - 1)).cast("double")
    cells
      .filter(col("n") > 1)
      .select(col("i"), col("j"), col("n"), covQ.as("cq"))
  }

  def embedCov(s: SparkSession, d: String): DataFrame = {
    val covd = covCellsQ(s, d)
    val diag = covd.filter(col("i") === col("j"))
      .select(col("i").as("dk"), col("cq").as("vk"))
    covd
      .join(broadcast(diag).withColumnRenamed("dk", "i")
        .withColumnRenamed("vk", "vi"), Seq("i"))
      .join(broadcast(diag).withColumnRenamed("dk", "j")
        .withColumnRenamed("vk", "vj"), Seq("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        round(col("cq") / 1e8, 8).as("cov"),
        // vi·vj > 0 guard: a constant dimension has zero variance,
        // where Spark's x/0.0 (±Inf/NaN) and DuckDB's NULL-folding
        // diverge — both engines emit NULL corr instead (same CASE in
        // the twin). Unreachable on the Gaussian fixture; latent-
        // divergence-proof regardless (the q_ts_cusum lesson).
        when(col("vi") * col("vj") > 0,
          round(col("cq") / sqrt(col("vi") * col("vj")), 6)).as("corr"))
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------------
  // q_embed_pca_power
  // ---------------------------------------------------------------------

  /** Top principal component of the embedding cloud by power iteration
    * over [[covCellsQ]]'s EXACT covariance — the whitening/compression
    * decision number (how much variance one direction carries), computed
    * the way 100 TB allows: the corpus is touched exactly ONCE (the cov
    * pass, materialized by localCheckpoint), then the full 24-round
    * iteration runs INSIDE one expression fold over the collected
    * row-major 4096-cell array — a single projection, one job.
    *
    * Bit-determinism despite float iteration: the matrix row is built
    * from SORTED (i,j,a) structs and every matvec / norm / Rayleigh /
    * trace reduction is a defined-order `aggregate` fold (the q_ts_ewma
    * rule), so the result is identical run to run and layout to
    * layout — and the same defined order is what makes the DuckDB twin
    * possible: its 24 unrolled list-CTE rounds fold with in-order
    * `list_sum`, replaying this arithmetic bit for bit (hash-matched;
    * round-10 conversion from rows-only). StatsGraphSpec additionally
    * replays ‖Av − λv‖ ≤ 5e-2·λ, unit norm, and λ ≥ max per-dim
    * variance — the loose residual bound is PRINCIPLED, not sloppy:
    * the fixture covariance has λ₂/λ₁ ≈ 0.975 (SURVEY §2.8 documents
    * it), so 24 power rounds contract the off-axis component only by
    * 0.975²⁴ ≈ 0.55 — no power method reaches 1e-6 on this spectrum,
    * and the spec asserts what the algorithm can actually deliver. */
  def embedPcaPower(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    // Materialize the upper triangle once: the union below references
    // it twice (identity + mirror), which would re-run the corpus
    // moment pass per branch.
    val up = covCellsQ(s, d)
      .select(col("i"), col("j"), (col("cq") / 1e8).as("a"))
      .transform(Materialize("embedPcaPower.upper"))
    val full = up.union(
      up.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("a")))
    // The whole 4096-cell matrix collapses to ONE row-major array row
    // ((i,j,a) structs sorted — a total order), and the complete
    // 24-round iteration runs INSIDE one expression fold: ~300k double
    // ops in a single projection, ONE job after the cov pass. The
    // first cut ran each matvec as its own checkpointed mini-plan —
    // 24 × 3 tiny Spark jobs of pure scheduling overhead, benchmarked
    // 6.5 s at sf0.1 vs sub-second for this form. Evaluation inside
    // `aggregate`/`transform` is sequential by definition — the same
    // bit-determinism the sorted-fold rule buys, with no cluster in
    // the loop at all (the right shape for a 64×64 driver-scale
    // problem the CORPUS pass has already reduced to).
    val matRow = full
      .select(struct(col("i"), col("j"), col("a")).as("t"))
      .agg(sort_array(collect_list("t")).as("ts"))
      .select(transform(col("ts"), x => x.getField("a")).as("am"))
      .filter(size(col("am")) === lit(dim * dim))
    // The complete 24-round iteration runs inside graft_power_iter —
    // ONE compiled call (VecExprs.PowerIterTop) returning
    // [v₀..v₆₃, λ, trace]. Earlier forms of this tail, both measured at
    // sf0.1: per-matvec checkpointed mini-plans (24×3 scheduling-bound
    // jobs, 6.5 s) and a single interpreted `aggregate` HOF fold with
    // localCheckpoint barriers against CollapseProject inlining
    // (~300k lambda-frame evaluations + 3 extra 1-row jobs, ~2.5 s).
    // The opaque compiled call needs no barrier (nothing to inline) and
    // reproduces the fold's arithmetic sequence bit-for-bit.
    val r = matRow.select(
      call_function("graft_power_iter", col("am"), lit(dim), lit(24))
        .as("out"))
    r.select(posexplode(slice(col("out"), 1, dim)).as(Seq("pos", "raw")),
        element_at(col("out"), dim + 1).as("lambda"),
        element_at(col("out"), dim + 2).as("trace"))
      .select((col("pos") + 1).cast("long").as("dim_idx"),
        round(col("raw"), 6).as("loading"),
        round(col("lambda"), 8).as("lambda"),
        round(col("lambda") / col("trace"), 6).as("explained_frac"))
      .orderBy("dim_idx")
  }

  // ---------------------------------------------------------------------
  // q_ts_ohlc
  // ---------------------------------------------------------------------

  /** Per-(type, hour) OHLC bars over the event value stream — the
    * resampling summary every monitoring pipeline draws (open/high/low/
    * close + volume). Exact BIGINT cents (the q_ts_interp convention);
    * open/close picked by min/max over struct(ts, event_id, cents) —
    * (ts, event_id) is unique, so the struct order is total, the
    * boundary rows are engine-independent, and the whole bar is ONE
    * map-side-combinable keyed aggregate (the oracle twin is the
    * first/last-window formulation — identical by the shared order; the
    * agg form ships because a window sort of every event at 100 TB vs
    * one struct per (type, hour) per map task is the q_agg_argmax
    * argument again). */
  def tsOhlc(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = events(s, d).select(
      col("event_type"),
      (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(hourUs)))
        .as("hour_us"),
      unix_micros(col("ts")).as("tus"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    ev.groupBy("event_type", "hour_us")
      .agg(
        min(struct(col("tus"), col("event_id"), col("cents"))).as("o"),
        max(struct(col("tus"), col("event_id"), col("cents"))).as("c"),
        max(col("cents")).as("high"),
        min(col("cents")).as("low"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("hour_us"),
        col("o.cents").as("open"), col("high"), col("low"),
        col("c.cents").as("close"), col("n_events"))
      .orderBy("event_type", "hour_us")
  }

  // ---------------------------------------------------------------------
  // q_dup_span_frac
  // ---------------------------------------------------------------------

  /** Per-document span-contamination fraction: the share of a doc's
    * DISTINCT 8-token sliding windows that also appear in any OTHER
    * document — the span-level dedup diagnostic. Doc-level Jaccard
    * (q_dedup_ngram) scores a 30% boilerplate wrapper near zero; this
    * measures the wrapped span mass directly — the audit statistic of
    * exact-substring deduplication.
    *
    * Shape: per-doc distinct windows built map-side (array_distinct of
    * the 8-gram transform — no explode→global-distinct shuffle), ONE
    * (window → doc-count) keyed agg, fraction read back through an
    * equi-join on the window key. Windows shuffle as xxhash64 longs
    * (8 bytes vs ~50-byte window strings on every shuffle/join/agg key —
    * q_dedup_ngram's measured 1.4× trade); the twin computes df on raw
    * window strings, so a 2⁻⁶⁴ cross-window collision is the one channel
    * that could diverge the engines (q_dedup_ngram's documented
    * accepted risk). */
  def dupSpanFrac(s: SparkSession, d: String): DataFrame = {
    // Staged once (round 14 optimization): `w` feeds both the gram-df
    // aggregation and the rejoin — left lazy, the tokenize + 8-gram
    // explode + hash scan executed TWICE (plus a third partial
    // execution for the join's other side). One materialization of the
    // skinny (doc_id, hash) frame serves all consumers — the dedupSpans
    // staging discipline. Measured 1.35 → 0.94 s BenchOne median.
    val w = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(transform(
          array_distinct(TextQueries.ngrams(col("toks"), 8)),
          xxhash64(_))).as("w"))
      .transform(Materialize("dupSpanFrac.windows"))
    val df = w.groupBy("w").agg(count(lit(1)).as("nd"))
    w.join(df, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count_if(col("nd") > 1).as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_windows"), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Oracle twins
  // ---------------------------------------------------------------------

  /** One unrolled power-iteration round of the q_embed_pca_power oracle:
    * w = A·v (row-major matvec, inner sum folded left-to-right), then
    * L2-normalize — the identical operation sequence to
    * [[graft.functions.VecExprs.powerIter]]'s while-loops, so every
    * round's doubles are bit-identical across engines. */
  private def pcaRoundSql(r: Int): String =
    s"""v$r AS (
       |  SELECT list_transform(w, x -> x / sqrt(ss)) AS v FROM (
       |    SELECT w, list_sum(list_transform(w, x -> x * x)) AS ss FROM (
       |      SELECT list_transform(range(1, 65), i ->
       |        list_sum(list_transform(range(1, 65), j ->
       |          am[CAST((i - 1) * 64 + j AS BIGINT)]
       |            * v[CAST(j AS BIGINT)]))) AS w
       |      FROM v${r - 1}, mat)))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang, md5(text) AS h, CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 5 <> 0),
        |v2 AS (
        |  SELECT doc_id, lang,
        |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS h,
        |    CAST(length(CASE WHEN doc_id % 3 = 0 THEN text || ' [rev2]'
        |                     ELSE text END) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 5 <> 1),
        |j AS (
        |  SELECT coalesce(v2.lang, v1.lang) AS lang,
        |    v1.h AS h1, v2.h AS h2, v1.len AS l1, v2.len AS l2
        |  FROM v1 FULL OUTER JOIN v2 USING (doc_id)),
        |st AS (
        |  SELECT lang,
        |    CASE WHEN h1 IS NULL THEN 'added'
        |         WHEN h2 IS NULL THEN 'removed'
        |         WHEN h1 <> h2 THEN 'changed'
        |         ELSE 'unchanged' END AS st,
        |    l1, l2
        |  FROM j)
        |SELECT lang,
        |  CAST(count(*) FILTER (st = 'added') AS BIGINT) AS n_added,
        |  CAST(count(*) FILTER (st = 'removed') AS BIGINT) AS n_removed,
        |  CAST(count(*) FILTER (st = 'changed') AS BIGINT) AS n_changed,
        |  CAST(count(*) FILTER (st = 'unchanged') AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN st = 'changed' THEN l2 - l1 ELSE 0 END)
        |    AS BIGINT) AS chars_delta
        |FROM st GROUP BY lang ORDER BY lang""".stripMargin,

    // Bucket spine via full outer join; window totals over the ≤10-row
    // bucket frame; Laplace-smoothed shares; no cross-row float sums.
    "q_dq_drift_psi" ->
      """WITH b1 AS (
        |  SELECT least(CAST(floor(length(text) / 50) AS BIGINT), 9)
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS n1
        |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
        |b2 AS (
        |  SELECT least(CAST(floor(length(t) / 50) AS BIGINT), 9)
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS n2
        |  FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN text || ' [rev2]'
        |               ELSE text END AS t
        |        FROM documents WHERE doc_id % 5 <> 1)
        |  GROUP BY 1),
        |j AS (
        |  SELECT coalesce(b1.bucket, b2.bucket) AS bucket,
        |    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
        |  FROM b1 FULL OUTER JOIN b2 ON b1.bucket = b2.bucket),
        |t AS (
        |  SELECT bucket, n1, n2,
        |    sum(n1) OVER () AS t1, sum(n2) OVER () AS t2,
        |    count(*) OVER () AS nb
        |  FROM j),
        |f AS (
        |  SELECT bucket, n1, n2,
        |    CAST(n1 + 1 AS DOUBLE) / (t1 + nb) AS p1,
        |    CAST(n2 + 1 AS DOUBLE) / (t2 + nb) AS p2
        |  FROM t)
        |SELECT bucket, n1, n2,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round((p2 - p1) * ln(p2 / p1), 6) AS psi_term,
        |  round((p2 - p1) * ln(p2 / p1), 6) > 0.2 AS drifted
        |FROM f ORDER BY bucket""".stripMargin,

    "q_cdc_snapshot" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_versions,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type, value AS last_value,
        |  n_versions
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // Doubled average ranks keep the rank sum an exact BIGINT:
    // 2·rank + (ties−1); AUC = (rp2 − P(P+1)) / (2PN), one double
    // division per scorer.
    "q_eval_auc" ->
      """WITH b AS (
        |  SELECT 'dim1' AS scorer, CAST(embedding[1] AS DOUBLE) AS score,
        |    label % 2 = 1 AS pos FROM embeddings
        |  UNION ALL
        |  SELECT 'dim2' AS scorer, CAST(embedding[2] AS DOUBLE) AS score,
        |    label % 2 = 1 AS pos FROM embeddings),
        |r AS (
        |  SELECT scorer, pos,
        |    2 * CAST(rank() OVER (PARTITION BY scorer ORDER BY score)
        |          AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY scorer, score) AS BIGINT)
        |      - 1 AS r2
        |  FROM b)
        |SELECT scorer,
        |  CAST(count(*) FILTER (pos) AS BIGINT) AS n_pos,
        |  CAST(count(*) FILTER (NOT pos) AS BIGINT) AS n_neg,
        |  CASE WHEN count(*) FILTER (pos) > 0
        |        AND count(*) FILTER (NOT pos) > 0 THEN
        |    round(CAST(sum(CASE WHEN pos THEN r2 ELSE 0 END)
        |        - (count(*) FILTER (pos))
        |          * ((count(*) FILTER (pos)) + 1) AS DOUBLE)
        |      / (CAST(2.0 AS DOUBLE) * (count(*) FILTER (pos))
        |         * (count(*) FILTER (NOT pos))), 6) END AS auc
        |FROM r GROUP BY scorer ORDER BY scorer""".stripMargin,

    // The BM25 CTE chain is TextQueries.bm25ScoresSql VERBATIM (one
    // source of truth, the q_search_rerank composition pattern); the
    // cosine is q_sim_topk's explicit double formula including the
    // probe itself (rank 1, cos 1).
    "q_search_rrf" -> (TextQueries.bm25ScoresSql +
      """,
        |ra AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |      AS BIGINT) AS rank_bm25
        |  FROM agg),
        |p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
        |cs AS (
        |  SELECT e.vec_id AS doc_id,
        |    round(
        |      list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> e.embedding[i]::DOUBLE * p.pv[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(e.embedding,
        |            x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(p.pv,
        |            x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos_sim
        |  FROM embeddings e CROSS JOIN p),
        |rc AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
        |      AS BIGINT) AS rank_cos
        |  FROM cs)
        |SELECT doc_id, rank_bm25, rank_cos,
        |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_bm25),
        |          CAST(0 AS DOUBLE))
        |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_cos),
        |          CAST(0 AS DOUBLE)), 6) AS rrf
        |FROM ra FULL OUTER JOIN rc USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),

    // floor(x·1e4 + 0.5), not round: double round half-way behavior
    // differs across engines; floor is IEEE-exact in both.
    "q_embed_cov" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |cells AS (
        |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv[i] * qv[j]) AS BIGINT) AS sqq
        |  FROM q, generate_series(1, 64) s(i), generate_series(1, 64) t(j)
        |  WHERE j >= i GROUP BY i, j),
        |sums AS (
        |  SELECT i, CAST(sum(qv[i]) AS BIGINT) AS si
        |  FROM q, generate_series(1, 64) s(i) GROUP BY i),
        |covd AS (
        |  SELECT c.i, c.j, c.n,
        |    CAST(c.n * c.sqq - a.si * b.si AS DOUBLE)
        |      / CAST(c.n * (c.n - 1) AS DOUBLE) AS cq
        |  FROM cells c JOIN sums a ON c.i = a.i JOIN sums b ON c.j = b.i
        |  WHERE c.n > 1),
        |diag AS (SELECT i AS dk, cq AS vk FROM covd WHERE i = j)
        |SELECT c.i, c.j, c.n,
        |  round(c.cq / 1e8, 8) AS cov,
        |  CASE WHEN di.vk * dj.vk > 0
        |       THEN round(c.cq / sqrt(di.vk * dj.vk), 6) END AS corr
        |FROM covd c JOIN diag di ON c.i = di.dk JOIN diag dj ON c.j = dj.dk
        |ORDER BY c.i, c.j""".stripMargin,

    // Same exact-integer cov cells as q_embed_cov, then the 24 power
    // rounds UNROLLED (the q_graph_pagerank discipline) as list CTEs.
    // Engine-exact despite float iteration: DuckDB's
    // list_sum(list_transform(...)) folds the list LEFT-TO-RIGHT (the
    // same in-order guarantee every cosine edge twin already rests on),
    // so each matvec/norm/Rayleigh/trace reduction replays
    // VecExprs.powerIter's while-loops operation for operation —
    // bit-identical doubles, verified at three SFs. v0 = 1/√64 = 0.125
    // is IEEE-exact.
    "q_embed_pca_power" ->
      ("""WITH q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |cells AS (
        |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv[i] * qv[j]) AS BIGINT) AS sqq
        |  FROM q, generate_series(1, 64) s(i), generate_series(1, 64) t(j)
        |  WHERE j >= i GROUP BY i, j),
        |sums AS (
        |  SELECT i, CAST(sum(qv[i]) AS BIGINT) AS si
        |  FROM q, generate_series(1, 64) s(i) GROUP BY i),
        |covd AS (
        |  SELECT c.i, c.j,
        |    CAST(c.n * c.sqq - a.si * b.si AS DOUBLE)
        |      / CAST(c.n * (c.n - 1) AS DOUBLE) / 1e8 AS a
        |  FROM cells c JOIN sums a ON c.i = a.i JOIN sums b ON c.j = b.i
        |  WHERE c.n > 1),
        |full_c AS (
        |  SELECT i, j, a FROM covd
        |  UNION ALL SELECT j AS i, i AS j, a FROM covd WHERE i <> j),
        |mat AS (
        |  SELECT list(a ORDER BY i, j) AS am FROM full_c
        |  HAVING len(list(a ORDER BY i, j)) = 4096),
        |v0 AS (
        |  SELECT list_transform(range(1, 65),
        |    i -> CAST(0.125 AS DOUBLE)) AS v),""".stripMargin
        + "\n" + (1 to 24).map(pcaRoundSql).mkString(",\n") + ",\n"
        + """fin AS (
        |  SELECT v,
        |    list_transform(range(1, 65), i ->
        |      list_sum(list_transform(range(1, 65), j ->
        |        am[CAST((i - 1) * 64 + j AS BIGINT)]
        |          * v[CAST(j AS BIGINT)]))) AS av,
        |    list_sum(list_transform(range(1, 65), i ->
        |      am[CAST((i - 1) * 64 + i AS BIGINT)])) AS trace
        |  FROM v24, mat),
        |fl AS (
        |  SELECT v, trace,
        |    list_sum(list_transform(range(1, 65), i ->
        |      v[CAST(i AS BIGINT)] * av[CAST(i AS BIGINT)])) AS lambda
        |  FROM fin)
        |SELECT CAST(u.i AS BIGINT) AS dim_idx,
        |  round(v[CAST(u.i AS BIGINT)], 6) AS loading,
        |  round(lambda, 8) AS lambda,
        |  round(lambda / trace, 6) AS explained_frac
        |FROM fl, generate_series(1, 64) u(i)
        |ORDER BY dim_idx""".stripMargin),

    "q_ts_ohlc" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT event_type, hour_us, cents,
        |    first_value(cents) OVER (PARTITION BY event_type, hour_us
        |      ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS open,
        |    last_value(cents) OVER (PARTITION BY event_type, hour_us
        |      ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS close
        |  FROM ev)
        |SELECT event_type, hour_us, open,
        |  CAST(max(cents) AS BIGINT) AS high,
        |  CAST(min(cents) AS BIGINT) AS low,
        |  close, CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY event_type, hour_us, open, close
        |ORDER BY event_type, hour_us""".stripMargin,

    // DuckDB list slices are 1-based INCLUSIVE: toks[i:i+7] is the
    // 8-token window starting at i.
    "q_dup_span_frac" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |w AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[i:i+7], ' ') AS w
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, len(toks) - 6)) AS i
        |        FROM t)),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS nd FROM w GROUP BY w)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_shared,
        |  round(CAST(count(*) FILTER (nd > 1) AS DOUBLE) / count(*), 4)
        |    AS dup_frac
        |FROM w JOIN df USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
