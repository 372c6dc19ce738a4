package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SkewOps, TopKQueries}
import graft.sources.BucketedLayout

/** The scale-path machinery: salted joins, bucketed layouts, bounded
  * top-k aggregation — correctness vs the naive formulation, plus the
  * plan properties that make them worth having. */
class ScaleOpsSpec extends AnyFunSuite with SparkFixture {

  test("salted join output equals the plain join (orders x customer)") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val plain = orders.join(customer,
      orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_custkey")
    val salted = SkewOps.saltedEquiJoin(orders, customer,
      "o_custkey", "c_custkey", n = 8)
      .select("o_orderkey", "c_custkey")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted join is deterministic across runs (content-hash salt)") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    def run() = SkewOps.saltedEquiJoin(orders, customer,
      "o_custkey", "c_custkey", n = 4)
      .select("o_orderkey").orderBy("o_orderkey").collect().toSeq
    assert(run() === run())
  }

  test("identical duplicate rows spread across salts (hot-key shape)") {
    import spark.implicits._
    // The classic skew shape: one hot key, all rows byte-identical. A pure
    // content-hash salt would collapse these onto ONE reducer.
    val fact = Seq.fill(1000)(("hot", 1L)).toDF("k", "v")
      .repartition(4)
    val salts = fact
      .withColumn("__salt", SkewOps.saltColumn(fact, 8))
      .select("__salt").distinct().count()
    assert(salts === 8, s"expected all 8 salts used, got $salts")
  }

  test("top-k aggregator matches the window-rank formulation") {
    val viaAgg = TopKQueries.topkGrouped(spark, sfDir).collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
      .collect()
    assert(viaAgg.toSeq === viaWindow.toSeq)
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // A fresh JVM's in-memory catalog has no record of last run's managed
    // tables, but their directories persist — clear them.
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    val (o, l) = BucketedLayout.colocate(spark,
      Tables.orders(spark, sfDir), "o_orderkey",
      Tables.lineitem(spark, sfDir), "l_orderkey",
      buckets = 4, "b_orders", "b_lineitem")
    // Force the shuffle-based join path: at this tiny scale Catalyst
    // would broadcast (a BroadcastExchange), hiding what bucketing buys.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select("o_orderkey", "l_linenumber")
      joined.collect()
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_join_bucketed's tables deliver the exchange-free join") {
    // Run the declared query once (it writes + registers the per-SF
    // external bucketed tables), then re-join those tables with broadcast
    // disabled: the bare join must plan with NO Exchange on either side —
    // the property the layout exists to provide.
    graft.operators.JoinQueries.joinBucketed(spark, sfDir).collect()
    val sf = graft.sources.SourceQueries.sfName(sfDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = spark.table(s"b_orders_q_$sf")
      val l = spark.table(s"b_lineitem_q_$sf")
      val joined = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_orderpriority", "l_extendedprice")
      joined.collect()
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("Exchange"),
        s"declared bucketed tables still shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ensureBucketed stages once, re-registers, restages on input change") {
    import org.apache.hadoop.fs.Path
    val base = "/tmp/graft-test-bucketstage"
    val src = s"$base/src.parquet"
    val loc = s"$base/tbl"
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    spark.sql("DROP TABLE IF EXISTS t_stage_once")
    graft.Tables.nation(spark, sfDir).write.parquet(src)
    def stage(version: String = "v1"): Unit =
      BucketedLayout.ensureBucketed(spark, loc, version, Seq(src),
        BucketedLayout.Table("t_stage_once", "n_nationkey", 4, loc)(
          () => spark.read.parquet(src)))
    stage()
    val marker = new Path(loc, "_GRAFT_STAGED")
    val t0 = fs.getFileStatus(marker).getModificationTime
    val rows = spark.table("t_stage_once").count()
    // Same inputs, catalog warm: hot path — marker (and data) untouched.
    stage()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "hot path restaged the layout")
    // Catalog died (new JVM): register-over-layout path — DDL only.
    spark.sql("DROP TABLE t_stage_once")
    stage()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "register path rewrote the data")
    assert(spark.table("t_stage_once").count() == rows)
    // Staging computation changed (version bumped), inputs unchanged:
    // the layout restages, and the new version's stage is then reused.
    stage("v2")
    assert(graft.sources.Staging.readMarker(spark, loc)
      .exists(_.startsWith("v2|")),
      "a version bump served the old version's layout")
    val t1 = fs.getFileStatus(marker).getModificationTime
    assert(spark.table("t_stage_once").count() == rows)
    stage("v2")
    assert(fs.getFileStatus(marker).getModificationTime == t1,
      "the bumped version restaged twice")
    // Input regenerated: fingerprint mismatch forces a full restage.
    graft.Tables.nation(spark, sfDir).limit(10)
      .write.mode("overwrite").parquet(src)
    stage("v2")
    assert(spark.table("t_stage_once").count() == 10,
      "stale layout served after its input changed")
    spark.sql("DROP TABLE IF EXISTS t_stage_once")
    fs.delete(new Path(base), true)
  }

  test("two-table staged layout re-registers only the lost table from " +
      "the marker's DDL") {
    // The lshLayout/shingleLayout shape: one stage, two tables, the
    // second derived from the WRITTEN first. A catalog that lost one
    // table gets it back from the recorded DDL — no data pass, so
    // neither table's `data` runs and the marker is not rewritten.
    import org.apache.hadoop.fs.Path
    val base = "/tmp/graft-test-twotable"
    val src = s"$base/src.parquet"
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    def dropTables(): Unit = Seq("t_two_a", "t_two_b")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropTables()
    graft.Tables.nation(spark, sfDir).write.parquet(src)
    var built = 0
    def stage(): Unit = BucketedLayout.ensureBucketed(spark, s"$base/layout",
      "v1", Seq(src),
      BucketedLayout.Table("t_two_a", "n_nationkey", 4, s"$base/layout/a") {
        () => built += 1; spark.read.parquet(src) },
      BucketedLayout.Table("t_two_b", "n_regionkey", 2, s"$base/layout/b") {
        () => built += 1
          spark.table("t_two_a").select("n_regionkey", "n_nationkey") })
    stage()
    assert(built === 2)
    val marker = new Path(s"$base/layout", "_GRAFT_STAGED")
    val t0 = fs.getFileStatus(marker).getModificationTime
    val b = spark.table("t_two_b").orderBy("n_nationkey").collect().toSeq
    spark.sql("DROP TABLE t_two_b")
    stage()
    assert(built === 2, "re-registering a lost table re-ran a build")
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "re-registering a lost table rewrote the marker")
    assert(spark.table("t_two_b").orderBy("n_nationkey").collect().toSeq
      === b)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("t_two_b")).bucketSpec
    assert(spec.map(s => (s.numBuckets, s.bucketColumnNames)) ===
      Some((2, Seq("n_regionkey"))))
    dropTables()
    fs.delete(new Path(base), true)
  }

  test("AQE splits a skewed join partition at runtime (skew-join)") {
    // The OTHER skew tool next to SkewOps' salting: AQE detects an
    // oversized shuffle partition from runtime stats and splits it across
    // tasks without any query rewrite. Pinned here with production-scale
    // thresholds scaled down to fixture size: one key owning ~100k of
    // ~110k left rows is far past factor×median and the byte threshold,
    // so the settled plan must read that partition through an
    // AQEShuffleRead marked `skewed`.
    import spark.implicits._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val prev = keys.map { case (k, _) => k -> spark.conf.get(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 100000).select(lit(1L).as("k"),
          col("id").as("payload"))
        .unionByName(spark.range(0, 10000)
          .select((col("id") % 100 + 2).as("k"), col("id").as("payload")))
      val right = spark.range(0, 200).select(col("id").as("k"),
        (col("id") * 10).as("dim"))
      val joined = left.join(right, "k")
      // Execute THIS df instance: skew handling only exists in the
      // settled adaptive plan, and a count() would run a different query.
      assert(joined.collect().length === 110000)
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("skewed"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime bloom filter injects on the selective shuffled join") {
    // The third runtime-filtering tool next to DPP and AQE skew handling:
    // a selective predicate on the build side of a shuffled equi-join gets
    // compiled into a bloom filter that prunes the probe side's rows
    // BEFORE the shuffle — at 100 TB this is the difference between
    // shuffling the full fact table and shuffling the ~matching slice
    // (this is also q_dedup_incremental's cheap first pass: delta
    // fingerprints prefiltered against the base index). Thresholds scaled
    // to fixture size: the application-side floor drops to 0 so the tiny
    // fixture scan qualifies; everything else is stock.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> "0")
    val prev = keys.map { case (k, _) => k -> spark.conf.get(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.lineitem(spark, sfDir)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_orderpriority")
      assert(joined.count() > 0)
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no bloom filter injected on the probe side:\n$optimized")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("persisted relation serves repeat reads from the columnar cache") {
    // The iterative-workload primitive: a dedup pipeline probes the same
    // fingerprint index many times — persist() must turn repeat readers
    // into InMemoryTableScans, never re-running the file scan + agg.
    val agg = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    agg.persist()
    try {
      agg.count() // materialize the cache
      val reread = agg.filter(col("n") >= 0)
      reread.collect()
      val plan = reread.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("InMemoryTableScan"),
        s"re-read not served from cache:\n$plan")
      // The InMemoryRelation node prints its BUILD plan (which contains
      // the original FileScan) as part of its definition — only the
      // active plan ABOVE it must be scan-free.
      val active = plan.linesIterator
        .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
      assert(!active.contains("FileScan"),
        s"cache miss: re-read re-scanned the files:\n$plan")
    } finally agg.unpersist()
  }

  /** Total shuffle-WRITE records across every stage of `action`,
    * captured via a listener. Listener events trail the action, so the
    * count is polled until stable before returning. */
  private def shuffleRecordsOf(action: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit =
        acc.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      var prev = -1L
      var spins = 0
      while (acc.get != prev && spins < 50) {
        prev = acc.get; Thread.sleep(100); spins += 1
      }
      acc.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `body` with opportunistic (size-estimated) broadcast joins OFF,
    * so small and large probe runs execute in the SAME shuffle regime —
    * at probe-small n, AQE otherwise broadcasts the pair join away and
    * the small run's shuffle count collapses, confounding the growth
    * ratio. Explicit broadcast() hints in the pipelines are honored
    * regardless of the threshold, so the DESIGNED broadcasts stay. */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def genEmbeddings(n: Int): String = {
    val dir = s"/tmp/graft-scaleprobe/emb_$n"
    val emb = spark.range(n.toLong).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), i =>
        (pmod(xxhash64(col("id") * lit(31) + i), lit(1000))
          .cast("double") / 500.0 - 1.0).cast("float")).as("embedding"),
      lit(0).as("label"))
    emb.coalesce(2).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("blocked pair scan: shuffle rows grow linearly in corpus size, " +
      "never quadratically (adversarial 10x probe)") {
    // The quadratic-by-contract trio (q_dedup_embed / q_embed_knn, and
    // q_dedup_cc's edge feed) declare exact all-pairs COMPUTE — but their
    // blocked design must keep the WIRE linear: inputs replicate into
    // K(K+1)/2 hash-block groups (×(K+1)/2 per row, constant in n) and
    // scores reduce map-side through the bounded-heap aggregator, so
    // shuffle records stay O(n·K + n·k). The sf fixture (500 vectors)
    // cannot catch a regression that re-introduces an n² SHUFFLE (e.g.
    // dropping the map-side heap partial, or scoring through a
    // row_number window); this probe can: at 10× the corpus, a linear
    // wire grows ~10×, an n² wire ~100×.
    val (small, large) = (300, 3000)
    val dSmall = genEmbeddings(small)
    val dLarge = genEmbeddings(large)
    import graft.operators.SimilarityQueries
    val (recSmall, recLarge) = withoutAutoBroadcast {
      // Warm once (JIT, codegen settle).
      SimilarityQueries.embedKnn(spark, dSmall).count()
      (shuffleRecordsOf(SimilarityQueries.embedKnn(spark, dSmall).count()),
        shuffleRecordsOf(SimilarityQueries.embedKnn(spark, dLarge).count()))
    }
    val ratio = recLarge.toDouble / recSmall.max(1L)
    assert(ratio <= 30.0,
      s"shuffle rows grew ${ratio}x on a 10x corpus " +
        s"($recSmall -> $recLarge) — the pair scan is shuffling " +
        "quadratic state")
    // Absolute bound: replication ×(K+1)=9 each side of the pair join,
    // heap partials ≤ n·(K+1), plus output/sort shuffles of n·k rows —
    // comfortably under 40 rows shuffled per input row; n²/4 would be
    // 750 per row at n=3000.
    assert(recLarge <= 40L * large,
      s"$recLarge shuffle rows for $large inputs — super-linear wire")
  }

  test("dedup_embed's thresholded pair scan keeps the wire linear too") {
    val (small, large) = (300, 3000)
    import graft.operators.SimilarityQueries
    val (recSmall, recLarge) = withoutAutoBroadcast {
      SimilarityQueries.dedupEmbed(spark, genEmbeddings(small)).count()
      (shuffleRecordsOf(
        SimilarityQueries.dedupEmbed(spark, genEmbeddings(small)).count()),
        shuffleRecordsOf(
          SimilarityQueries.dedupEmbed(spark, genEmbeddings(large))
            .count()))
    }
    val ratio = recLarge.toDouble / recSmall.max(1L)
    assert(ratio <= 30.0,
      s"shuffle rows grew ${ratio}x on a 10x corpus " +
        s"($recSmall -> $recLarge)")
    assert(recLarge <= 40L * large,
      s"$recLarge shuffle rows for $large inputs — super-linear wire")
  }

  test("stream LSH ingest gate equals its batch twin row-for-row") {
    // Every delta doc's verdict depends only on that doc and the BASE,
    // so the streamed two-batch replay must reproduce the one-shot
    // batch gate exactly — including n_dup_base counts, best-match ids
    // and jaccards, and the null rows for clean docs.
    import graft.operators.{SimilarityQueries, StreamQueries}
    val batch = SimilarityQueries.dedupIncrementalLsh(spark, sfDir)
    val stream = StreamQueries.streamLshIngest(spark, sfDir)
    assert(stream.count() === batch.count())
    assert(stream.exceptAll(batch).isEmpty &&
      batch.exceptAll(stream).isEmpty,
      "stream and batch ingest verdicts diverge")
  }

  test("shingle layout stages once, reuses, restages on corpus change") {
    // The ensureBucketed discipline applied to the derived ngram layout:
    // first call writes, repeat calls read the staged files untouched,
    // a regenerated corpus invalidates the fingerprint and restages.
    import spark.implicits._
    import graft.operators.TextQueries
    val dir = "/tmp/graft-stageonce"
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def layoutFiles: Seq[String] = {
      val cold = new java.io.File(graft.sources.SourceQueries
        .scratch(dir, "ngram_layout") + "/cold")
      Option(cold.list()).getOrElse(Array.empty[String]).toSeq.sorted
        .filter(_.endsWith(".parquet"))
    }
    writeDocs(Seq(0L -> "a b c d e f", 1L -> "a b c d e f",
      2L -> "p q r s t u"))
    val n1 = TextQueries.dedupNgram(spark, dir).count()
    assert(n1 === 1L, "the identical pair must pair at jaccard 1.0")
    val staged = layoutFiles
    assert(staged.nonEmpty, "staging produced no layout files")
    TextQueries.dedupNgram(spark, dir).count()
    assert(layoutFiles === staged,
      "repeat call restaged an unchanged corpus (stage-once lost)")
    // Regenerate with different content: fingerprint (length/modtime)
    // changes, the layout must restage and the answer must track the
    // NEW corpus (a stale layout would still report the old pair).
    writeDocs(Seq(0L -> "a b c d e f", 1L -> "zz yy xx ww vv uu",
      2L -> "p q r s t u"))
    val n2 = TextQueries.dedupNgram(spark, dir).count()
    assert(n2 === 0L,
      "restage missed: result still reflects the replaced corpus")
    assert(layoutFiles !== staged, "layout files unchanged after restage")
  }

  test("two corpus dirs that share a layout key never serve each " +
      "other's layout") {
    // `kp.1` and `kp_1` map to the same table names (the key sanitizes
    // the dot), so they must also share one scratch root: the stage's
    // listing fingerprint, which records each source's full path, then
    // restages on every switch instead of serving A the layout B staged.
    import spark.implicits._
    import graft.operators.TextQueries
    val base = java.nio.file.Files.createTempDirectory("graft-layoutkey")
    val (a, b) = (s"$base/p/kp.1", s"$base/q/kp_1")
    (0L -> "a b c d e f" :: 1L -> "a b c d e f" :: 2L -> "p q r s t u" :: Nil)
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$a/documents.parquet")
    (0L -> "a b c d e f" :: 1L -> "zz yy xx ww vv uu" :: Nil)
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$b/documents.parquet")
    val answers = Seq(a, b, a).map(TextQueries.dedupNgram(spark, _).count())
    assert(answers === Seq(1L, 0L, 1L),
      "A's third call was answered from B's staged layout")
  }

  test("k-means wire is linear in corpus size: broadcast centroids, " +
      "no pair blowup (adversarial 10x probe)") {
    // q_embed_kmeans compares every vector against k BROADCAST
    // centroids; the only corpus-scale shuffles are the per-vector
    // struct-min partials (≈ n per iteration after map-side combine)
    // and the per-dim mean agg (combined to ≤ k·dim per partition). A
    // regression that joins vectors against vectors — or replaces the
    // combinable struct-min with a window sort of the k·n candidate
    // frame — shows up here as super-linear growth.
    val (small, large) = (300, 3000)
    val dSmall = genEmbeddings(small)
    val dLarge = genEmbeddings(large)
    import graft.operators.SimilarityQueries
    val (recSmall, recLarge) = withoutAutoBroadcast {
      SimilarityQueries.embedKmeans(spark, dSmall).count()
      (shuffleRecordsOf(
        SimilarityQueries.embedKmeans(spark, dSmall).count()),
        shuffleRecordsOf(
          SimilarityQueries.embedKmeans(spark, dLarge).count()))
    }
    val ratio = recLarge.toDouble / recSmall.max(1L)
    assert(ratio <= 30.0,
      s"k-means shuffle rows grew ${ratio}x on a 10x corpus " +
        s"($recSmall -> $recLarge)")
    // 3 assignment reductions + 2 recompute aggs + census: comfortably
    // under 25 shuffled rows per input vector.
    assert(recLarge <= 25L * large,
      s"$recLarge shuffle rows for $large vectors — super-linear wire")
  }

  test("winnowing wire is linear in gram volume (adversarial 10x probe)") {
    // q_text_winnowing's cross-doc stage operates on SELECTED
    // fingerprints (~1/w of the grams); the doc-local window rides one
    // gram-volume shuffle keyed by doc_id. Both are linear in corpus
    // size — a regression that pair-joins docs over shared fingerprints
    // (instead of the (fp -> doc-count) keyed agg + join back) would
    // grow quadratically on the planted duplicate block below.
    def genDocs(n: Int): String = {
      val dir = s"/tmp/graft-scaleprobe/docs_$n"
      // 90% unique-vocabulary docs + 10% byte-identical boilerplate
      // (the mass-dup regime that makes shared-fingerprint fan-out
      // quadratic if mishandled).
      val docs = spark.range(n.toLong).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0,
          lit((1 to 40).map(i => s"b$i").mkString(" ")))
          .otherwise(concat_ws(" ",
            transform(sequence(lit(0), lit(39)), i =>
              concat(lit("t"),
                pmod(xxhash64(col("id") * lit(41) + i), lit(5000))))))
          .as("text"))
      docs.coalesce(2).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      dir
    }
    val (small, large) = (300, 3000)
    val dSmall = genDocs(small)
    val dLarge = genDocs(large)
    import graft.operators.TextQueries
    val (recSmall, recLarge) = withoutAutoBroadcast {
      TextQueries.textWinnowing(spark, dSmall).count()
      (shuffleRecordsOf(
        TextQueries.textWinnowing(spark, dSmall).count()),
        shuffleRecordsOf(
          TextQueries.textWinnowing(spark, dLarge).count()))
    }
    val ratio = recLarge.toDouble / recSmall.max(1L)
    assert(ratio <= 30.0,
      s"winnowing shuffle rows grew ${ratio}x on a 10x corpus " +
        s"($recSmall -> $recLarge)")
    // ~37 grams/doc through the window shuffle + selected fingerprints
    // (≤ grams) through distinct/df/join-back: < 200 rows per doc.
    assert(recLarge <= 200L * large,
      s"$recLarge shuffle rows for $large docs — super-linear wire")
  }

  private def genCustomers(n: Int): String = {
    val dir = s"/tmp/graft-scaleprobe/cust_$n"
    spark.range(n.toLong).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        (col("id") % 25).cast("int").as("c_nationkey"),
        lit(0.0).as("c_acctbal"),
        lit("BUILDING").as("c_mktsegment"))
      .coalesce(2).write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    dir
  }

  test("q_join_fuzzy's blocked candidate wire grows linearly, " +
      "never as the global cross (adversarial 10x probe)") {
    // Block size is FIXED by the name format (last-2-digit span = 100
    // names/block), so candidates per probe are constant in n: the
    // candidate frame and both agg shuffles must grow ~10x on a 10x
    // corpus. A regression to global fuzzy matching (losing the block
    // key) would grow the wire ~100x — exactly what this probe trips.
    val (small, large) = (1000, 10000)
    import graft.operators.JoinQueries
    val (recSmall, recLarge) = withoutAutoBroadcast {
      JoinQueries.joinFuzzy(spark, genCustomers(small)).count()
      (shuffleRecordsOf(
        JoinQueries.joinFuzzy(spark, genCustomers(small)).count()),
        shuffleRecordsOf(
          JoinQueries.joinFuzzy(spark, genCustomers(large)).count()))
    }
    val ratio = recLarge.toDouble / recSmall.max(1L)
    assert(ratio <= 30.0,
      s"shuffle rows grew ${ratio}x on a 10x corpus " +
        s"($recSmall -> $recLarge) — the fuzzy join lost its blocking")
    // Probe repartition (n) + canon side (n) + two agg exchanges (≤ 2n).
    assert(recLarge <= 10L * large,
      s"$recLarge shuffle rows for $large customers — super-linear wire")
  }

  test("q_join_radius's cell-join wire grows linearly even as pair " +
      "DENSITY grows quadratically (adversarial 10x probe)") {
    // At fixed radius a denser corpus has ~n^2 candidate PAIRS — but
    // pairs are compute inside the joined stage, not wire: the shuffle
    // carries the left points (n), the 9-cell exploded right (9n), and
    // the map-side-combined census partials (≤ n). A regression that
    // shuffles the pair frame itself (e.g. an agg that loses its
    // partial, or a window over candidates) grows the wire with n^2
    // density and trips this bound.
    val (small, large) = (300, 3000)
    import graft.operators.JoinQueries
    val (recSmall, recLarge) = withoutAutoBroadcast {
      JoinQueries.joinRadius(spark, genEmbeddings(small)).count()
      (shuffleRecordsOf(
        JoinQueries.joinRadius(spark, genEmbeddings(small)).count()),
        shuffleRecordsOf(
          JoinQueries.joinRadius(spark, genEmbeddings(large)).count()))
    }
    val ratio = recLarge.toDouble / recSmall.max(1L)
    assert(ratio <= 30.0,
      s"shuffle rows grew ${ratio}x on a 10x corpus " +
        s"($recSmall -> $recLarge) — candidate pairs reached the wire")
    assert(recLarge <= 20L * large,
      s"$recLarge shuffle rows for $large points — super-linear wire")
  }

  test("q_domain_cap survives a planted mega-source: bounded-heap plan, " +
      "no per-source window sort, keep set exact") {
    // The round-10 verdict's declared caveat, closed in round 11: the
    // former per-source row_number window SORTED each source's whole
    // partition — one domain holding 10 % of a 100 TB crawl serializes
    // into a single task. The rewrite keeps ≤10 rows per source in the
    // native graft_topk_by bounded heap; this probe plants one source
    // 2500× the others and pins (a) no Window node in the plan, (b) the
    // heap aggregate present, (c) the kept set value-identical to the
    // window formulation it replaced (same (md5-prefix-52, doc_id)
    // total order).
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = "/tmp/graft-test-megasource"
    val mega = (0L until 50000L).map(i => (i, "mega"))
    val small = (0 until 5).flatMap(k =>
      (0 until 20).map(j => (1000000L + k * 100L + j, s"s$k")))
    (mega ++ small).toDF("doc_id", "source")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = graft.operators.CurateQueries.domainCap(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "per-source window crept back — a mega-source serializes again")
    assert(plan.contains("graft_topk_by"),
      s"bounded-heap aggregate missing; plan head:\n${plan.take(600)}")
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    // Reference formulation: the window rank over the same total order.
    val pfx = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")
    val w = Window.partitionBy("source").orderBy(pfx, col("doc_id"))
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= 10)
      .orderBy("source", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 60, s"expected 6 sources x 10, got ${got.length}")
    assert(got.toSeq === want.toSeq,
      "bounded-heap keep set diverges from the window formulation")
  }
}
