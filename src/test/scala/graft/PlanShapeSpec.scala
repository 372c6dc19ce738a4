package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Plan-shape assertions (SURVEY §5.5): the 100 TB mandate is enforced
  * here — pushdown, pruning, broadcast, and top-k fusion must actually
  * fire, not be assumed. */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  // ---- shared growth-sweep plumbing (unpartitioned-window sweep, r9;
  // broadcast-input sweep, r11) ----------------------------------------
  // Both sweeps ask the same structural question of a logical subplan:
  // "does this frame grow ~linearly with its own source tables across
  // scale factors?" — so they share the table-attribution and cap logic.

  private val growthTables = Seq("documents", "embeddings", "lineitem",
    "orders", "customer", "supplier", "part", "events", "nation", "region")

  private val growthRowsOf = scala.collection.mutable.Map[String, Long]()

  private def growthRows(sf: String, t: String): Long =
    growthRowsOf.getOrElseUpdate(s"$sf/$t",
      spark.read.parquet(s"$sf/$t.parquet").count())

  /** Source tables feeding this subplan, by parquet-leaf path. */
  private def growthLeafTables(
      child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    child.collect {
      case r: LogicalRelation => r.relation match {
        case f: HadoopFsRelation =>
          f.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten.flatMap { p =>
      // Anchor on the path basename: a bare substring match would
      // misattribute a table whose name is a substring of another
      // table or path component (round-9 advice).
      val base = p.stripSuffix("/").split('/').last
      growthTables.find(t => base == s"$t.parquet")
    }
  }

  /** Max admissible row count at `hi` for a frame that measured `nLo`
    * rows at `lo`: sub-linear in the subplan's own source tables, with
    * a 1.5× floor so a frame over a FLAT table (growth 1×) is not
    * required to shrink, and a 64-row absolute floor for tiny frames. */
  private def growthCap(
      child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      nLo: Long, lo: String, hi: String): Long = {
    val growth = growthLeafTables(child) match {
      case ts if ts.nonEmpty =>
        ts.map(t => growthRows(hi, t).toDouble / growthRows(lo, t)).max
      case _ => 10.0 // unrecognized leaves: max raw fixture growth
    }
    math.max(64L, (nLo * math.max(1.5, 0.75 * growth)).toLong)
  }

  private def finalPlanString(df: DataFrame): String = {
    df.collect() // run so AQE settles on the final plan
    executed(df) match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q_filter_predicate pushes all conjuncts into the parquet scan") {
    val plan = executed(CoreQueries.filterPredicate(spark, sfDir)).toString
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("l_shipdate"), "shipdate range not pushed")
    assert(plan.contains("l_quantity"), "quantity bound not pushed")
  }

  test("q_scan_parquet prunes the read schema to the projected columns") {
    val plan = executed(CoreQueries.scanParquet(spark, sfDir)).toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_shipdate"),
      s"unprojected column read: $readSchema")
  }

  test("q_dedup_ngram reads only the staged shingle layout, " +
      "posting self-join exchange-free") {
    // The shared shingle pipeline (df-cut postings + per-doc verify rows)
    // is an ingest-time staged layout (TextQueries.shingleLayout): the
    // query plan must start from the staged bucketed tables — NEVER
    // re-derive the explode+distinct from the source corpus (the round-4
    // regression: 24 parquet scans / 34 exchanges, the explode recomputed
    // per consumer; the round-6 regression: localCheckpoint blocks
    // evicted under session memory pressure, silently re-deriving).
    val df = TextQueries.dedupNgram(spark, sfDir)
    val plan = finalPlanString(df)
    assert(!plan.contains("documents.parquet"),
      "plan re-reads the source corpus — staged-layout reuse regressed")
    assert(plan.contains("graft_ngram_cold"), plan.take(500))
    // Bucketed ×32 on the join keys: the cold self-join and both docs
    // verify-side reads need no Exchange; only the pair aggregation,
    // its probe sides, the skey group path, and the final dedup shuffle.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 8, s"$exchanges exchanges — bucketed reuse lost")
  }

  test("q_embed_cov reduces through one array aggregator, no explode") {
    // The 2145 exact moments must reduce via the LongVecSum typed
    // Aggregator (map-side array partials) — the pre-rewrite shape
    // exploded corpus×2080 rows into a keyed hash agg (2.5 s at sf0.1
    // vs 0.6 s). A Generate node on the corpus side means the explode
    // crept back.
    val plan = finalPlanString(
      graft.operators.VersionQueries.embedCov(spark, sfDir))
    assert(!plan.contains("Generate"), "corpus-side explode reappeared")
    assert(plan.contains("ObjectHashAggregate"),
      s"typed aggregator missing from plan:\n${plan.take(400)}")
  }

  test("q_sql_decorrelate rewrites the correlated scalar subquery " +
      "to an aggregate join") {
    // The Q17 shape: a per-outer-row re-execution (nested loop) dies at
    // scale; Catalyst must decorrelate to grouped-agg + equi-join.
    val df = SqlQueries.queries("q_sql_decorrelate")(spark, sfDir)
    val plan = finalPlanString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"correlated subquery not decorrelated:\n${plan.take(600)}")
  }

  test("q_join_broadcast plans a broadcast hash join") {
    val plan = finalPlanString(JoinQueries.joinBroadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_topk fuses into TakeOrderedAndProject") {
    val plan = executed(CoreQueries.topK(spark, sfDir)).toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_join_range stays an equi hash/merge join, never BNLJ/cartesian") {
    val plan = finalPlanString(JoinQueries.joinRange(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_join_asof avoids cartesian products") {
    val plan = finalPlanString(JoinQueries.joinAsof(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("projection arithmetic runs inside whole-stage codegen") {
    // The pre-execution AQE wrapper hides codegen spans; in the settled
    // final plan a whole-stage-codegen span prints as a `*(n)` prefix.
    val plan = finalPlanString(CoreQueries.projectExpr(spark, sfDir))
    assert(plan.contains("*("), s"no codegen span: $plan")
  }

  test("graft vector expressions participate in whole-stage codegen") {
    val df = SimilarityQueries.simTopK(spark, sfDir)
    val plan = finalPlanString(df)
    assert(plan.contains("graft_vec_cosine"), plan)
    // The projection computing the vector expression must sit inside a
    // codegen span (`*(n) Project`), proving doGenCode is used, not
    // fallback eval.
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_vec_cosine") &&
        l.trim.matches("""^\+?-?\s*\*\(\d+\).*""")),
      s"vec expression not in a codegen stage: $plan")
  }

  test("q_agg_groupby uses two-phase hash aggregation") {
    val plan = finalPlanString(AggQueries.aggGroupBy(spark, sfDir))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial"), "no map-side partial aggregation")
  }

  test("q_sample_hash filter runs in the scan stage, not post-shuffle") {
    // The md5-predicate is row-local: it must appear as a Filter below the
    // first Exchange (scan side), so sampled-out rows never shuffle.
    val plan = finalPlanString(StatsQueries.sampleHash(spark, sfDir))
    val lines = plan.linesIterator.toSeq
    val filterIdx = lines.indexWhere(_.contains("Filter"))
    val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
    assert(filterIdx >= 0, s"no Filter in plan:\n$plan")
    // Plans print top-down: the scan-stage filter sits BELOW (after) the
    // shuffle exchange lines.
    assert(exchangeIdx < 0 || filterIdx > exchangeIdx,
      s"sample filter above the exchange (post-shuffle):\n$plan")
  }

  test("q_agg_stats is one shuffle: partial then final hash aggregation") {
    val plan = finalPlanString(StatsQueries.aggStats(spark, sfDir))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial"), "no map-side partial aggregation")
    // corr/covar/stddev are all algebraic: a single exchange for the
    // group-by (plus AQE reads); no second aggregation pass.
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 2, s"$exchanges exchanges:\n$plan")
  }

  test("q_ann_rp bucket join is an equi join, never cartesian") {
    val plan = finalPlanString(SimilarityQueries.annRp(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_contamination probes a broadcast of the benchmark shingles") {
    // The corpus side must never shuffle for the probe: the benchmark
    // shingle set is the broadcast build side of a hash join.
    val plan = finalPlanString(TextQueries.contamination(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_vocab_oov probes a broadcast of the vocabulary") {
    val plan = finalPlanString(TextQueries.vocabOov(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("the blocked pair scan is hash joins only (staging computation)") {
    // The blocked rewrite must keep both the tiny block-pair fan-out and
    // the gid pair join as equi hash joins — a regression to BNLJ or a
    // cartesian is the 100 TB failure mode it replaced. Since round 10
    // the scan runs ONCE at staging time (the edge store); the guard
    // pins the computation itself, not the consumers' staged reads.
    val plan = finalPlanString(
      SimilarityQueries.embedPairsScan(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"block-pair fan-out should be a broadcast hash join:\n$plan")
  }

  test("the LSH near-dup cut references the intersection once") {
    // The skeleton's cut is pushed into the attach join's condition with
    // `common` inlined; the exact integer rule references it once, so
    // the condition holds one array_intersect and the verify Project
    // the other (a cut reading `common` twice, as the double Jaccard
    // did, puts two in the condition: 4 in the plan). Pinned on the
    // optimized plan of the batch gate and of the pair store's staging
    // computation.
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    def intersections(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions)
        .map(_.collect { case a: ArrayIntersect => a }.size)
        .filter(_ > 0)
    for ((name, df) <- Seq(
        "q_dedup_incremental_lsh" ->
          SimilarityQueries.dedupIncrementalLsh(spark, sfDir),
        "lshPairScan" -> SimilarityQueries.lshPairScan(spark, sfDir))) {
      val n = intersections(df)
      assert(n.forall(_ == 1) && n.size <= 2,
        s"$name ($n):\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("ORC scans push filters and prune columns like parquet") {
    // The round-trip query certifies correctness; this certifies the
    // 100×-scale plan property on the SAME staged data: a predicate +
    // projection over the ORC scratch dir must reach the reader.
    graft.sources.SourceQueries.scanOrc(spark, sfDir).collect()
    val dir = graft.sources.SourceQueries.scratch(sfDir, "part_orc")
    val df = spark.read.orc(dir)
      .filter(org.apache.spark.sql.functions.col("p_retailprice") > 1000.0)
      .select("p_partkey", "p_retailprice")
    val plan = executed(df).toString
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("p_retailprice"),
      s"retailprice predicate not pushed to ORC:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && !readSchema.contains("p_name"),
      s"ORC read schema not pruned: $readSchema")
  }

  test("JDBC partitioned read pushes filters into the remote query") {
    // Each of the 4 c_custkey range partitions issues its own bounded
    // query; a Catalyst filter must ALSO travel into the JDBC WHERE
    // clause (PushedFilters on the JDBCRelation) — at ingest scale the
    // operational DB must do the filtering, not the cluster.
    graft.sources.SourceQueries.scanJdbc(spark, sfDir).collect()
    val dbDir = graft.sources.SourceQueries.scratch(sfDir, "jdbc_derby")
    val df = spark.read
      .option("partitionColumn", "c_custkey")
      .option("numPartitions", "4")
      .option("lowerBound", "0")
      .option("upperBound", "1000000")
      .jdbc(s"jdbc:derby:$dbDir", "customer_jdbc",
        new java.util.Properties())
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 0.0)
      .select("c_custkey", "c_acctbal")
    val plan = executed(df).toString
    assert(plan.contains("numPartitions=4"),
      s"partitioned JDBC read lost its range partitioning:\n$plan")
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.toLowerCase.contains("c_acctbal"),
      s"acctbal predicate not pushed to JDBC:\n$plan")
  }

  test("mergeSchema parquet read prunes and pushes through schema drift") {
    // q_scan_evolving's merged v1/v2 dirs: column pruning and predicate
    // pushdown must survive schema evolution — a reader that fetches all
    // merged columns for a 1-column projection re-reads the lake.
    graft.sources.SourceQueries.scanEvolving(spark, sfDir).collect()
    val base = graft.sources.SourceQueries
      .scratch(sfDir, "documents_evolving")
    val df = spark.read.option("mergeSchema", "true")
      .parquet(s"$base/v1", s"$base/v2")
      .filter(org.apache.spark.sql.functions.col("doc_id") > 10L)
      .select("doc_id")
    val plan = executed(df).toString
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("doc_id"),
      s"doc_id predicate not pushed through merged schema:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("lang") &&
      !readSchema.contains("n_chars"),
      s"merged-schema read not pruned: $readSchema")
  }

  test("dynamic partition pruning reaches the partitioned fact scan") {
    // The 100 TB star-join property on q_sink_partitioned's layout: a
    // filter on the DIM side must prune the FACT's partition directories
    // at runtime (dynamicpruningexpression in PartitionFilters), so the
    // fact scan reads only joined partitions. The dim must be
    // file-backed: a LocalRelation literal fails DPP's benefit check, so
    // an in-memory Seq dim would silently scan every partition.
    import spark.implicits._
    graft.sources.SourceQueries.sinkPartitioned(spark, sfDir).collect()
    val factDir = graft.sources.SourceQueries
      .scratch(sfDir, "documents_by_lang")
    val dimDir = graft.sources.SourceQueries.scratch(sfDir, "dpp_dim_spec")
    Seq(("en", 1), ("de", 0), ("fr", 0)).toDF("lang_key", "flag")
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir)
      .filter(org.apache.spark.sql.functions.col("flag") === 1)
    val joined = fact.join(dim,
        org.apache.spark.sql.functions.col("lang") ===
          org.apache.spark.sql.functions.col("lang_key"))
      .select("doc_id", "lang")
    val plan = finalPlanString(joined)
    val factScan = plan.linesIterator
      .find(l => l.contains("documents_by_lang") &&
        l.contains("PartitionFilters")).getOrElse("")
    assert(factScan.contains("dynamicpruningexpression"),
      s"no DPP filter on the partitioned fact scan:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a shuffle join") {
    // The shuffle-join twin of the DPP property: when the dim side of a
    // non-broadcast equi join carries a selective filter, Spark's
    // runtime-filter rule must inject a bloom_filter_agg over the dim
    // keys and probe it (might_contain) in the FACT's scan stage, so at
    // 100 TB the fact rows that cannot join die before the shuffle, not
    // after it. Local thresholds differ from a real cluster (the
    // application-side default gate is 10 GB), so the gates are pinned
    // low for the test — the assertion is that the REWRITE fires, which
    // is exactly what the production conf would deliver at real sizes.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val fact = graft.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity")
      val dim = graft.Tables.orders(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") ===
          "1-URGENT")
        .select("o_orderkey")
      val joined = fact.join(dim,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = finalPlanString(joined)
      assert(plan.toLowerCase.contains("might_contain"),
        s"no bloom probe on the fact scan:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        "join broadcasted — bloom pin must exercise the shuffle path")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("q_text_chunk is a map-side explode: only the sort exchanges") {
    // The SURVEY row claims chunking runs as a scan at any corpus size;
    // hold it to that: the posexplode+slice+md5 pipeline must keep the
    // declared ORDER BY's range partitioning as its ONLY exchange, with
    // the chunk expressions inside a codegen span.
    val plan = finalPlanString(TextQueries.textChunk(spark, sfDir))
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 1, s"$exchanges exchanges:\n$plan")
    assert(plan.contains("*("), s"chunk pipeline not codegen'd:\n$plan")
  }

  test("q_embed_quantize is a pure scan stage: only the sort exchanges") {
    // The SURVEY row claims quantization is map-only HOF arithmetic; hold
    // it to that: no hash-partitioned exchange may appear — the single
    // allowed exchange is the declared ORDER BY's range partitioning.
    val plan = finalPlanString(SimilarityQueries.embedQuantize(spark, sfDir))
    val hashEx = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx === 0, s"quantize shuffled:\n$plan")
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 1, s"$exchanges exchanges:\n$plan")
  }

  test("q_text_pii runs entirely in the scan stage (no exchange)") {
    // Redaction + counting are row-local codegen'd expressions; the only
    // allowed exchange is the final ORDER BY's range partitioning.
    val plan = finalPlanString(TextQueries.textPii(spark, sfDir))
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 1, s"$exchanges exchanges:\n$plan")
    // `*(n)` prefixes are the whole-stage-codegen stage markers in the
    // settled AQE plan rendering.
    assert(plan.contains("*(1)"), s"projection not codegen'd:\n$plan")
  }

  test("q_text_garbage runs entirely in the scan stage (no exchange)") {
    // The SURVEY row's 100 TB claim is full-scan-throughput rule
    // filtering: signals + flag are row-local codegen'd expressions
    // (the q_text_pii shape); the only allowed exchange is the final
    // ORDER BY's range partitioning.
    val plan = finalPlanString(TextQueries.textGarbage(spark, sfDir))
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 1, s"$exchanges exchanges:\n$plan")
    assert(plan.contains("*(1)"), s"signals not codegen'd:\n$plan")
  }

  test("q_sample_weighted takes the top-k without a global sort") {
    // A-ES's whole point is scan + top-k: the k largest priorities
    // arrive via TakeOrderedAndProject (O(k) state per map task),
    // never a full range-exchange sort of the corpus; the rank window
    // then runs on the 100-row result only.
    val plan = finalPlanString(CurateQueries.sampleWeighted(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange rangepartitioning")
        && !l.contains("rank")),
      s"corpus-wide range sort leaked into the A-ES plan:\n$plan")
  }

  test("q_embed_stats folds vectors to norms on the scan, pre-shuffle") {
    // The per-vector L2 fold must sit in a Project DIRECTLY over the
    // FileScan — vectors are reduced to scalars before any exchange, so
    // the embedding column itself never shuffles.
    val plan = finalPlanString(CurateQueries.embedStats(spark, sfDir))
    val lines = plan.linesIterator.toSeq
    val fold = lines.indexWhere(_.contains("aggregate(embedding"))
    assert(fold >= 0, s"no array fold in plan:\n$plan")
    // Directly over the scan = only the columnar-batch boundary may sit
    // between the fold Project and the FileScan.
    assert(lines.drop(fold + 1).take(2).exists(_.contains("FileScan")),
      s"fold not directly over the scan:\n$plan")
    assert(!lines.exists(l =>
      l.contains("Exchange") && l.contains("embedding")),
      s"embedding column crossed an exchange:\n$plan")
  }

  test("q_event_funnel never windows over per-user event sequences") {
    // The "first event after X" must be a conditional min agg — a Window
    // formulation would sort every user's EVENTS by time. (Sort nodes per
    // se are allowed: a sort-merge join of the per-user AGGREGATES sorts
    // one row per user, which scales; a Window over (user_id, ts) sorts
    // every event, which is the formulation this test forbids.)
    val plan = finalPlanString(StatsQueries.eventFunnel(spark, sfDir))
    assert(!plan.contains("Window"), s"window crept in:\n$plan")
    assert(!plan.linesIterator.exists(l =>
      l.contains("Sort [user_id") && l.contains("ts#")),
      s"per-event (user, ts) sort crept in:\n$plan")
  }

  test("q_split_hash assigns splits in the scan stage, one agg shuffle") {
    // The split label is a row-local md5 projection: the only exchanges
    // are the stats agg and the declared ORDER BY.
    val plan = finalPlanString(CurateQueries.splitHash(spark, sfDir))
    assert(plan.contains("partial"), "no map-side partial aggregation")
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 2, s"$exchanges exchanges:\n$plan")
  }

  test("q_profile_table: per-column pipelines, no Expand, pruned scans") {
    // The multi-countDistinct Expand formulation was measured 4x slower
    // (keyed SortAggregates over x5 expanded rows — string min/max
    // buffers are not hash-aggregable); the union-of-columns plan must
    // hold: one single-column pruned scan per profiled column, hash
    // aggregation for the per-value counts, no Expand anywhere.
    val plan = finalPlanString(CurateQueries.profileTable(spark, sfDir))
    assert(!plan.contains("Expand"), s"Expand crept back:\n$plan")
    val scanSchemas = plan.linesIterator.filter(_.contains("ReadSchema"))
      .toSeq
    assert(scanSchemas.size == 4, s"want 4 column scans:\n$plan")
    scanSchemas.foreach { l =>
      // each scan reads exactly its one profiled column
      val struct = l.substring(l.indexOf("ReadSchema: struct<"))
      assert(struct.count(_ == ':') == 2, s"unpruned profile scan: $l")
    }
    assert(plan.contains("HashAggregate"), s"no hash agg:\n$plan")
  }

  test("q_ts_anomaly touches events once; stats run on the aggregate") {
    // One map-side-combined hourly count over the corpus; the moment
    // window exchanges only the resampled (type, hour) aggregate.
    val plan = finalPlanString(TimeSeriesQueries.tsAnomaly(spark, sfDir))
    assert(plan.contains("partial"), "hourly count not map-side combined")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"$scans event scans (want 1):\n$plan")
  }

  test("q_agg_linreg is one moment aggregation, map-side combined") {
    val plan = finalPlanString(StatsQueries.aggLinreg(spark, sfDir))
    assert(plan.contains("partial"), "moments not map-side combined")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"$scans orders scans (want 1):\n$plan")
    // Closed-form fit must not add exchanges beyond the group agg + sort.
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange "))
    assert(exchanges <= 2, s"$exchanges exchanges:\n$plan")
  }

  test("q_agg_spearman sorts its rows once and keeps windows out of the " +
      "final sort's stage") {
    // Logical: one window over the per-(flag, quantity) histogram (x
    // ranks) and one corpus window (y ranks) — not a rank and a count
    // window per variable. Physical: the final orderBy's range exchange
    // runs its child stage a second time to sample bounds, so that stage
    // must end at an exchange below the moment aggregate, never reach
    // into the corpus window.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Window => LWindow}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.{
      Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val df = StatsQueries.aggSpearman(spark, sfDir)
    val ws = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(ws.size === 2, s"${ws.size} logical windows (want 2)")
    val overHist = ws.filter(w => w.child.exists(_.isInstanceOf[Aggregate]) &&
      !w.child.exists(_.isInstanceOf[LWindow]))
    assert(overHist.size === 1, s"no window over the histogram:\n$ws")
    df.collect() // run so AQE settles on the final plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => nodes(q.plan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val ranges = nodes(executed(df)).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.size === 1, s"${ranges.size} range exchanges (want 1)")
    def stage(p: SparkPlan): Seq[SparkPlan] = p.children.flatMap {
      case _: Exchange | _: QueryStageExec => Nil
      case c => c +: stage(c)
    }
    val inStage = stage(ranges.head)
    assert(!inStage.exists(_.isInstanceOf[WindowExec]),
      s"window inside the final sort's stage:\n${ranges.head}")
  }

  test("q_ts_acf reads the corpus once: final plan is checkpoint-fed") {
    // The hourly aggregate's two consumers (bounds, zero-fill join)
    // differ by a null filter, defeating ReuseExchange — without the
    // localCheckpoint the events parquet is scanned twice. The final
    // plan must consume ONLY the materialized aggregate.
    val plan = finalPlanString(TimeSeriesQueries.tsAcf(spark, sfDir))
    assert(!plan.contains("Scan parquet"),
      s"corpus rescanned past the checkpoint:\n$plan")
  }

  test("q_event_dau never self-joins events; final plan is checkpoint-fed") {
    // The rolling-distinct range self-join is the anti-pattern this
    // query exists to avoid: the bounded 7× explode + count-distinct
    // agg must run over the ONE materialized (user, day) frame, never
    // a second corpus scan.
    val plan = finalPlanString(StatsQueries.eventDau(spark, sfDir))
    assert(!plan.contains("Scan parquet"),
      s"corpus rescanned past the checkpoint:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"range self-join crept in:\n$plan")
  }

  test("q_agg_heavy_hitters gates the recount by broadcast, no sort join") {
    // The candidate set (≤64 rows) must broadcast against the token
    // stream; a SortMergeJoin means the full token universe shuffled —
    // exactly what the MG pass exists to avoid.
    val plan = finalPlanString(AggQueries.aggHeavyHitters(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate gate not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"full-universe shuffle join:\n$plan")
  }

  test("q_ts_mannkendall pairs the checkpointed grid, corpus read once") {
    // span² pair work must run on the materialized dense grid; a parquet
    // scan in the final plan means the corpus feeds the pair join.
    val plan = finalPlanString(TimeSeriesQueries.tsMannKendall(spark, sfDir))
    assert(!plan.contains("Scan parquet"),
      s"corpus feeds the pair join:\n$plan")
  }

  test("q_join_interval_bin plans a cell equi join, never a nested loop") {
    // No equi key exists in the declared semantics — the grid binning
    // must synthesize one. A BNLJ/cartesian here means the rewrite
    // regressed to the melt-at-scale theta join.
    val plan = finalPlanString(JoinQueries.joinIntervalBin(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("cell"), s"cell key missing from join:\n$plan")
  }

  test("q_sim_batch_topk shuffles heap partials, never the score matrix") {
    // The per-probe top-k must come from the bounded-heap Aggregator
    // (partial_ merge on the map side); a Window/row_number formulation
    // (global per-probe sort of all n·k scores) is the anti-pattern.
    val plan = finalPlanString(SimilarityQueries.simBatchTopK(spark, sfDir))
    assert(!plan.contains("Window"), s"row_number window crept in:\n$plan")
    assert(plan.contains("partial"), "heap partials not map-side merged")
  }

  test("q_attribution resolves touches by window, never a join") {
    // The as-of-by-window claim: one per-user sort carries touches AND
    // purchases; a touch⋈purchase join (the naive plan) would be
    // quadratic in a user's events under skew.
    val plan = finalPlanString(StatsQueries.attribution(spark, sfDir))
    assert(!plan.contains("Join"), s"attribution joined instead:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"more than the one per-user shuffle:\n$plan")
  }

  test("q_join_scd2_pit plans equi joins only, interval as post-filter") {
    val plan = finalPlanString(JoinQueries.joinScd2Pit(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"PIT join degenerated to a nested loop:\n$plan")
    assert(plan.contains("Join"), plan)
  }

  test("q_select_head holds no language in one task: range-partitioned " +
      "prefix sum, no per-lang window") {
    // Round 11 replaced the two PARTITION BY lang windows (cumulative
    // mass + lang total) with RankOps.withKeyedPrefixSum: a lang's
    // slice is spread over P range partitions and the only windows left
    // run over (a) the bounded per-(partition, lang) census and (b)
    // (partition, lang) groups capped at one range partition each. A
    // Window whose partitionSpec is exactly [lang] means the
    // mega-language serialization crept back.
    // Legit [lang]-partitioned windows DO remain: the census offsets
    // (lang totals / per-partition offsets) window over the
    // per-(partition, lang) AGGREGATE — bounded at parts × |langs|
    // rows. What must not exist is a [lang]-only window straight over
    // per-document rows, i.e. one with NO Aggregate beneath it.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Window => LWindow}
    val df = CurateQueries.selectHead(spark, sfDir)
    val offenders = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.size == 1 &&
          w.partitionSpec.head.references.map(_.name).toSeq ==
            Seq("lang") &&
          w.child.collectFirst { case a: Aggregate => a }.isEmpty =>
        w
    }
    assert(offenders.isEmpty,
      "a per-document PARTITION BY lang window is back — one task per " +
        "language again")
  }

  test("q_growth_accounting: lag and lead share one per-user sort") {
    val plan = finalPlanString(StatsQueries.growthAccounting(spark, sfDir))
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows <= 1, s"$windows Window operators — lag/lead split:\n$plan")
  }

  test("q_embed_knn reduces through heap partials, never a rank window") {
    // The O(n·k)-wire claim: per-vector top-3 must come from the typed
    // bounded-heap aggregate (partial merge map-side), not a row_number
    // window over the full score matrix.
    val plan = finalPlanString(SimilarityQueries.embedKnn(spark, sfDir))
    assert(!plan.contains("Window"), s"rank window crept in:\n$plan")
    assert(plan.contains("partial"), "heap partials not map-side merged")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"pair scan degenerated to a nested loop:\n$plan")
  }

  test("q_ts_cusum touches the corpus once; fold runs on the aggregate") {
    val plan = finalPlanString(TimeSeriesQueries.tsCusum(spark, sfDir))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, // events scan feeds the hourly agg (+grid reuse)
      s"$scans parquet scans — resample-once regressed:\n$plan")
  }

  test("q_embed_kmeans assigns by combinable struct-min, not a window " +
      "sort; final stage reads checkpointed centroids") {
    // Assignment must be the map-side-combinable min-struct agg (the
    // q_agg_argmax discipline) — a Window node means the k·n candidate
    // frame is being sorted per vector again. The final plan reads the
    // materialized c2 centroids (localCheckpoint), so exactly ONE
    // corpus scan appears in the last iteration's plan — a lineage
    // regression re-embeds the whole iteration history (measured ~8
    // corpus scans before the cut).
    val plan = finalPlanString(
      graft.operators.SimilarityQueries.embedKmeans(spark, sfDir))
    assert(!plan.contains("Window"),
      s"window sort crept into the assignment:\n${plan.take(800)}")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2,
      s"$scans corpus scans in the final iteration — lineage cut lost")
  }

  test("q_text_winnowing's cross-doc stage reads the checkpointed " +
      "selection, not a re-derived corpus pipeline") {
    // The per-doc pipeline (gram hashes, window minima, distinct
    // fingerprint set) is array HOFs checkpointed ONCE as (doc_id,
    // n_grams, fps); the settled plan never re-reads documents.parquet,
    // carries NO WindowExec (the round-14 rewrite's point: the doc-keyed
    // exchange+sort is gone), and the only Generate nodes are the
    // explodes of the ~1/w-density SELECTED fingerprint arrays (one per
    // consumer of sel), never the full gram stream.
    val plan = finalPlanString(
      graft.operators.TextQueries.textWinnowing(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      "winnowing re-derives the gram pipeline from the source corpus")
    assert(!plan.contains("Window"),
      "the doc-keyed window sort re-entered the settled plan")
    val generates = "Generate".r.findAllIn(plan).size
    assert(generates <= 2,
      s"$generates Generate nodes — more than the two selected-" +
        "fingerprint explodes (full gram explode re-entered the plan?)")
  }

  test("q_graph_label_prop's final round reads checkpointed state, " +
      "not a re-derived pair pipeline") {
    // The edge feed (embedPairs) and each round's label frame are
    // localCheckpoint'd; without the cuts, round 3's plan re-embeds the
    // blocked pair join and rounds 1–2 wholesale (the k-means lineage
    // lesson). The settled plan must read only materialized RDDs —
    // zero parquet scans of the source corpus.
    val plan = finalPlanString(
      graft.operators.GraphQueries.graphLabelProp(spark, sfDir))
    assert(!plan.contains("embeddings.parquet"),
      "label propagation re-derived the pair pipeline from parquet")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 0,
      s"$scans parquet scans in the final round — lineage cut lost")
  }

  test("q_agg_effectsize and q_agg_ratio_delta are single-scan " +
      "conditional aggregations") {
    // Both declare "no join, no second pass" — the two-group/two-arm
    // moments must come from ONE pass over orders: exactly one parquet
    // scan, zero Join nodes.
    for (q <- Seq(
        graft.operators.StatsQueries.aggEffectSize(spark, sfDir),
        graft.operators.StatsQueries.aggRatioDelta(spark, sfDir))) {
      val plan = finalPlanString(q)
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans === 1, s"$scans scans — conditional agg regressed")
      assert(!plan.contains("Join"), "a join crept into the one-pass agg")
    }
  }

  test("q_survival_km: one fact scan; windows run on the duration frame") {
    // The fact collapses to per-customer spans in one keyed agg and the
    // corpus max arrives by broadcast — the orders parquet must be
    // scanned at most twice (span agg + max), and no SortMergeJoin may
    // appear (the only join is the 1-row broadcast cross).
    val plan = finalPlanString(
      graft.operators.StatsQueries.survivalKm(spark, sfDir))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"$scans parquet scans — span-agg shape regressed")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus-max must broadcast, not shuffle-join")
  }

  test("q_graph_kcore's settled round reads only checkpointed state") {
    // Six h-index rounds, each checkpoint-cut: the final plan must not
    // re-derive the pair pipeline from parquet (the label-prop lineage
    // discipline).
    val plan = finalPlanString(
      graft.operators.GraphQueries.graphKcore(spark, sfDir))
    assert(!plan.contains("embeddings.parquet"),
      "k-core re-derived the edge feed from parquet")
  }

  test("q_dedup_bloom probes inside codegen — no typed boundary") {
    // The sketch probe is graft_might_contain (Spark's codegen'd
    // BloomFilterMightContain) on a plan-literal sketch; a
    // DeserializeToObject in the plan means the round-7 typed
    // mapPartitions probe crept back around the hot path.
    val plan = finalPlanString(
      graft.operators.CurateQueries.dedupBloom(spark, sfDir))
    assert(!plan.contains("DeserializeToObject"),
      "bloom probe left whole-stage codegen (typed boundary reappeared)")
  }

  test("no declared query feeds an unpartitioned window corpus-scaled " +
      "input") {
    // An unpartitioned window (`ORDER BY`/frame with no PARTITION BY)
    // requires AllTuples: every input row moves to ONE task. That is
    // fine on a provably bounded frame (a decile table, a partition-
    // count frame, a quantile grid) and a serial bottleneck on anything
    // that scales with the corpus — the round-7 verdict's three `ntile`
    // flags (q_rfm / q_window_ntile_range / q_revenue_concentration,
    // since rebuilt on RankOps' two-phase rank). This sweep makes the
    // property structural: for EVERY declared query, every unpartitioned
    // logical Window's input is counted at THREE scale factors and each
    // adjacent step must grow strictly sub-linearly in the window's own
    // SOURCE tables. Two steps because the fixture growth differs by
    // table: the fact tables grow 10× at every step, but documents /
    // embeddings are FLAT between sf0.001 and sf0.01 (500 → 500) and
    // only grow on the sf0.01 → sf0.1 step (500 → 5000 / 500 → 2000) —
    // the round-8 blind spot that let q_text_editdist's and
    // q_search_rrf's corpus-sized global windows pass vacuously (both
    // since rebuilt: editdist as a dense-id equi-join, rrf on RankOps).
    //
    // The cap is growth-aware per window: the window child's parquet
    // leaves name their source tables, the biggest per-table row growth
    // between the two SFs bounds what "linear" would measure, and the
    // assert is input-growth ≤ max(64 rows, 0.75 × that) — with a 1.5×
    // floor so a window over a FLAT table (growth 1×) is not required
    // to shrink. Leaves with no recognizable source (staged scratch
    // layouts, checkpoint-cut LogicalRDDs — all bounded frames today)
    // default to the max raw growth 10×, i.e. the historical 7.5× cap.
    // Bounded frames sit far below every cap (constant counts);
    // axis-compressed frames — q_survival_km's duration axis, q_ts_*'s
    // day grid, both calendar-bounded — measure ≤ 6×; a corpus-sized
    // frame measures at its table's growth and fails.
    // Streaming queries are skipped: their returned plan is the
    // already-materialized replay table, so there is no window left to
    // inspect (and building one executes the whole replay).
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
      Window => LWindow}
    def gw(p: LogicalPlan): Seq[LogicalPlan] =
      p.collect { case w: LWindow if w.partitionSpec.isEmpty => w.child }
    val sfs = Seq(sfDir, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val offenders = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_"))
      .foreach { case (name, fn) =>
        val w0 = gw(fn(spark, sfs.head).queryExecution.optimizedPlan)
        if (w0.nonEmpty) {
          val legs = sfs.sliding(2).toSeq
          legs.foreach { case Seq(lo, hi) =>
            val wl =
              if (lo == sfs.head) w0
              else gw(fn(spark, lo).queryExecution.optimizedPlan)
            val wh = gw(fn(spark, hi).queryExecution.optimizedPlan)
            assert(wh.size == wl.size,
              s"$name: window count differs across SFs (${wl.size} vs " +
                s"${wh.size}) — sweep cannot pair inputs")
            wl.zip(wh).zipWithIndex.foreach { case ((cl, ch), i) =>
              val nLo = org.apache.spark.sql.GraftPlanBridge
                .ofRows(spark, cl).count()
              val nHi = org.apache.spark.sql.GraftPlanBridge
                .ofRows(spark, ch).count()
              if (nHi > growthCap(cl, nLo, lo, hi))
                offenders +=
                  s"$name window#$i [$lo -> $hi]: $nLo -> $nHi rows"
            }
            graft.Harness.releaseTransient(spark)
          }
        }
        graft.Harness.releaseTransient(spark)
      }
    assert(offenders.isEmpty,
      "corpus-scaled unpartitioned windows (single-partition sorts at " +
        "scale):\n" + offenders.mkString("\n"))
  }

  test("knn family keeps partial_graft_topk_by under ObjectHashAggregate") {
    // TopKByAgg's whole point is the ObjectHashAggregate fast path with
    // map-side partials: partial_graft_topk_by means the bounded heap
    // merges BEFORE the exchange (wire stays O(groups·k)), and
    // ObjectHashAggregate (vs SortAggregate) means no per-partition
    // sort of the 2·C(n,2) pair feed — the two properties the
    // round-10 rewrite (and Harness's 65536 fallback threshold) bought.
    // The scaladoc has claimed this pin since r10; this test makes the
    // claim true (round-10 advice). A silent regression to sort-based
    // or complete-mode aggregation would otherwise only show up as
    // bench noise.
    for ((nm, df) <- Seq(
        "q_sim_batch_topk" ->
          SimilarityQueries.simBatchTopK(spark, sfDir),
        "q_embed_knn" -> SimilarityQueries.embedKnn(spark, sfDir))) {
      val plan = finalPlanString(df)
      val partial = plan.linesIterator.find(l =>
        l.contains("ObjectHashAggregate") &&
          l.contains("partial_graft_topk_by"))
      assert(partial.isDefined,
        s"$nm: no ObjectHashAggregate line with partial_graft_topk_by " +
          s"— partial aggregation demoted; plan head:\n${plan.take(800)}")
      assert(!plan.contains("SortAggregate"),
        s"$nm: SortAggregate in plan — ObjectHashAggregate fell back " +
          "to sort-based aggregation")
    }
  }

  test("no declared query feeds a partitioned window a corpus-scaled " +
      "group") {
    // A PARTITION BY window is only scale-safe if its GROUPS stay
    // bounded: the window sorts/streams each group in ONE task, so a
    // bounded-cardinality key (lang, stage, returnflag) over a
    // corpus-scaled input serializes 1/|keys| of the corpus per task —
    // invisible to the unpartitioned-window sweep above, and exactly
    // the class round 11 closed for q_domain_cap / q_interleave_mix /
    // q_curriculum_order / q_select_head (bounded heap or two-phase
    // prefix sum). This sweep pins the property repo-wide: for every
    // declared query, every partitioned logical Window's MAX GROUP SIZE
    // is measured on the sf0.01 → sf0.1 leg (every source table grows
    // on that leg — the round-8 flat-leg lesson applies to the OTHER
    // leg) and must grow strictly sub-linearly in the window's own
    // source tables (same growth-aware cap as the sibling sweeps).
    //
    // Two exemption tiers. STRUCTURAL: windows whose partitionSpec
    // references a RankOps `__g_*` working column are partition-capped
    // by construction — their group is (range partition × key), capped
    // by AQE's advisory partition size (round 12: the range exchange
    // carries no forced count, so AQE sizes partitions ~64 MB at any
    // scale), which is the FIX for this class, not an instance of it
    // (the sweep would otherwise read a small coalesced fixture frame
    // as linear growth). ALLOWLISTED by name, each
    // with the reason the group is either semantics or bounded:
    //   q_agg_gini, q_agg_spearman — exact order statistics per
    //     statistical group (SURVEY's aggGini cost class: a total order
    //     per flag is the price of exact ranks; the group IS the
    //     population the statistic is defined over);
    //   q_eval_auc, q_eval_ndcg — rank-metric definitions over the
    //     EVAL population (AUC is a rank-sum; NDCG reads the ranked
    //     list): the fixture fakes that population from the corpus, a
    //     production eval set is contract-bounded (the q_contamination
    //     argument);
    //   q_text_pack — groups are (lang, shard = doc_id div 4096):
    //     bounded at 4096 docs FOREVER by the shard arithmetic; the
    //     sweep leg sits below the saturation point (218 → 1679 < 4096)
    //     and reads the ramp as growth.
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Window => LWindow}
    // Exemptions are PER WINDOW INDEX, not per query (round-11 review):
    // a query gaining a SECOND, genuinely corpus-scaled window must
    // still fail by name — e.g. q_agg_spearman's histogram window #1
    // stays swept; only its corpus y-rank window #0 is exempt.
    val allow: Map[String, Set[Int]] = Map(
      "q_agg_gini" -> Set(0, 1, 2), // exact order stats (aggGini class)
      "q_agg_spearman" -> Set(0), // exact tie-averaged ranks
      "q_eval_auc" -> Set(0), // rank-sum over bounded eval set
      "q_eval_ndcg" -> Set(0, 1), // ranked-list metric, bounded eval
      "q_text_pack" -> Set(0)) // shard-bounded at 4096 by arithmetic
    // (q_window_ntile_range left this list in round 11: its range frame
    // now resolves at the level grain via ONE withKeyedPrefixSum pass
    // over carrier ∪ probe rows plus a keyed pivot — no per-band window
    // remains to exempt.)
    def gw(p: LogicalPlan): Seq[LWindow] =
      p.collect {
        case w: LWindow if w.partitionSpec.nonEmpty &&
            !w.partitionSpec.exists(_.references
              .exists(_.name.startsWith("__g_"))) =>
          w
      }
    def maxGroup(w: LWindow): Long = {
      import org.apache.spark.sql.functions.{count, lit, max}
      val cols = w.partitionSpec
        .map(org.apache.spark.sql.GraftPlanBridge.columnOf)
      val r = org.apache.spark.sql.GraftPlanBridge
        .ofRows(spark, w.child)
        .groupBy(cols: _*).agg(count(lit(1)).as("__n"))
        .agg(max("__n")).collect().head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val (lo, hi) = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val offenders = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_"))
      .foreach { case (name, fn) =>
        val wLo = gw(fn(spark, lo).queryExecution.optimizedPlan)
        if (wLo.nonEmpty) {
          val wHi = gw(fn(spark, hi).queryExecution.optimizedPlan)
          assert(wHi.size == wLo.size,
            s"$name: partitioned-window count differs across SFs " +
              s"(${wLo.size} vs ${wHi.size}) — sweep cannot pair")
          wLo.zip(wHi).zipWithIndex
            .filterNot { case (_, i) =>
              allow.getOrElse(name, Set.empty).contains(i)
            }
            .foreach { case ((cl, ch), i) =>
              val gLo = maxGroup(cl)
              val gHi = maxGroup(ch)
              if (gHi > growthCap(cl.child, gLo, lo, hi))
                offenders +=
                  s"$name pwindow#$i [$lo -> $hi]: max group $gLo -> $gHi"
            }
          graft.Harness.releaseTransient(spark)
        }
        graft.Harness.releaseTransient(spark)
      }
    assert(offenders.isEmpty,
      "corpus-scaled window GROUPS (one serialized task per group at " +
        "scale):\n" + offenders.mkString("\n"))
  }

  test("unhinted former-broadcast joins still broadcast under AQE at " +
      "fixture scale") {
    // Round 11 dropped the FORCED broadcast() hints on four corpus-
    // scaled frames (q_tfidf's vocabulary df, q_basket_pairs' item
    // counts, q_agg_hhi/q_agg_kendall's supplier dim) — the 100 TB
    // argument is graceful degradation to a shuffle join. The fixture-
    // scale half of that argument is that NOTHING degrades at small
    // size: AQE must still plan these equi-joins as broadcasts from
    // measured size. If this pin breaks without a Spark upgrade, a
    // conf regression (autoBroadcastJoinThreshold, AQE disabled) has
    // silently put shuffle joins in the hot path of every small-dim
    // join in the engine.
    for ((nm, df) <- Seq(
        "q_tfidf" -> TextQueries.tfidf(spark, sfDir),
        "q_basket_pairs" -> StatsQueries.basketPairs(spark, sfDir),
        "q_agg_hhi" -> StatsQueries.aggHhi(spark, sfDir),
        "q_agg_kendall" -> StatsQueries.aggKendall(spark, sfDir))) {
      val plan = finalPlanString(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"$nm: no BroadcastHashJoin in the AQE final plan — the " +
          s"unhinted small frame stopped broadcasting at fixture scale")
      assert(!plan.contains("SortMergeJoin"),
        s"$nm: SortMergeJoin at fixture scale — AQE did not localize " +
          s"the join")
    }
  }

  test("no declared query force-broadcasts a corpus-scaled frame") {
    // `broadcast(df)` is a FORCE: Spark ships the frame whole to every
    // executor regardless of its measured size, so a hinted frame must
    // be bounded BY CONSTRUCTION — a frame that is merely small at
    // fixture scale but grows with its source table is an executor OOM
    // at 100 TB. That was the round-10 verdict's `weak` class: q_tfidf
    // broadcast the open corpus vocabulary, q_basket_pairs the
    // catalog-scaled item counts (both since unhinted — AQE broadcasts
    // them at fixture scale from measured size and degrades to a
    // shuffle join at 100 TB). This sweep makes the property structural,
    // mirroring the unpartitioned-window recipe above: for EVERY
    // declared query, every ResolvedHint(BROADCAST) child in the
    // ANALYZED plan (the analyzed plan is where user hints still live
    // as nodes — the optimizer folds them into the Join's JoinHint) is
    // counted at three SFs, and each adjacent step must grow strictly
    // sub-linearly in the hint child's own source tables (same
    // growth-aware cap: 0.75× the child's max source-table growth, 1.5×
    // floor for FLAT-table legs, 64-row absolute floor). AQE-chosen
    // broadcasts are out of scope by construction — they are
    // size-measured at runtime, which is the graceful-degradation shape
    // the hint removals bought. 1-row scalar frames and k-row
    // centroid/probe tables measure constant and pass every cap.
    // Streaming queries are skipped as in the window sweep: their
    // returned frame is the already-materialized replay table.
    //
    // Allowlist — frames that grow in the FIXTURE but are bounded by a
    // production contract, each with the rationale at the query site:
    //   q_contamination: the fixture fakes the benchmark set as a 1/97
    //     corpus sample, so it scales with the fixture corpus; a real
    //     eval set is FIXED by the evaluation contract (O(10⁵-10⁶)
    //     shingles, corpus-independent) — see TextQueries.contamination
    //     scaladoc for the full argument.
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, ResolvedHint}
    // Exemptions are PER HINT INDEX, not per query (round-11 review):
    // if q_contamination ever gains a SECOND forced broadcast, it must
    // still fail by name — only the eval-set frame (hint #0) is exempt.
    val allow: Map[String, Set[Int]] = Map(
      // fixture pseudo-benchmark is a 1/97 corpus sample; production
      // eval sets are contract-fixed
      "q_contamination" -> Set(0))
    def hints(p: LogicalPlan): Seq[LogicalPlan] =
      p.collect {
        case h: ResolvedHint
            if h.hints.strategy.exists(_.toString.toLowerCase
              .contains("broadcast")) =>
          h.child
      }
    val sfs = Seq(sfDir, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val swept = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_"))
      .foreach { case (name, fn) =>
        val h0 = hints(fn(spark, sfs.head).queryExecution.analyzed)
        if (h0.nonEmpty) {
          swept += name
          sfs.sliding(2).toSeq.foreach { case Seq(lo, hi) =>
            val hl =
              if (lo == sfs.head) h0
              else hints(fn(spark, lo).queryExecution.analyzed)
            val hh = hints(fn(spark, hi).queryExecution.analyzed)
            assert(hh.size == hl.size,
              s"$name: broadcast-hint count differs across SFs " +
                s"(${hl.size} vs ${hh.size}) — sweep cannot pair inputs")
            hl.zip(hh).zipWithIndex
              .filterNot { case (_, i) =>
                allow.getOrElse(name, Set.empty).contains(i)
              }
              .foreach { case ((cl, ch), i) =>
                val nLo = org.apache.spark.sql.GraftPlanBridge
                  .ofRows(spark, cl).count()
                val nHi = org.apache.spark.sql.GraftPlanBridge
                  .ofRows(spark, ch).count()
                if (nHi > growthCap(cl, nLo, lo, hi))
                  offenders +=
                    s"$name broadcast#$i [$lo -> $hi]: $nLo -> $nHi rows"
              }
            graft.Harness.releaseTransient(spark)
          }
        }
        graft.Harness.releaseTransient(spark)
      }
    // The sweep must actually see the hint population: if the collector
    // went blind (a Spark upgrade moving hints out of the analyzed
    // plan), every query would pass vacuously — pin a known-hinted
    // query as the canary.
    assert(swept.contains("q_sim_topk"),
      s"hint collector found no broadcast in q_sim_topk — sweep is " +
        s"blind (swept: ${swept.size} queries)")
    assert(offenders.isEmpty,
      "corpus-scaled FORCED broadcasts (executor OOM at 100 TB):\n" +
        offenders.mkString("\n"))
  }
}
