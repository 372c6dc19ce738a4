package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphQueries, SimilarityQueries, StatsQueries}
import graft.sources.SourceQueries

/** Round-2 operator families: statistical/conditional aggregates,
  * deterministic sampling, connected-component dedup, and the batch
  * source/sink round-trips. */
class StatsGraphSpec extends AnyFunSuite with SparkFixture {

  test("exact two-phase quantiles equal percentile(); sketch lands within " +
      "tolerance of them") {
    val exactQ = StatsQueries.approxQuantile(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // The declared query is EXACT since round 14: it must agree with
    // Spark's own interpolated percentile() to the declared rounding.
    val builtin = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(expr("round(percentile(value, 0.5), 4)").as("p50"),
        expr("round(percentile(value, 0.9), 4)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    for ((k, (e50, e90)) <- exactQ) {
      assert(e50 === builtin(k)._1, s"$k p50: $e50 vs ${builtin(k)._1}")
      assert(e90 === builtin(k)._2, s"$k p90: $e90 vs ${builtin(k)._2}")
    }
    // The sketch variant: accuracy 10000 ⇒ rank error 1e-4, but it
    // returns an actual data point while the exact path interpolates —
    // allow the gap between adjacent order statistics (relative 2%).
    val approx = StatsQueries.approxQuantileSketch(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    for ((k, (a50, a90)) <- approx) {
      def close(a: Double, e: Double) =
        math.abs(a - e) <= math.max(0.05, 0.02 * math.abs(e))
      assert(close(a50, exactQ(k)._1), s"$k p50: $a50 vs ${exactQ(k)._1}")
      assert(close(a90, exactQ(k)._2), s"$k p90: $a90 vs ${exactQ(k)._2}")
    }
  }

  test("HLL sketch estimates land within 5% of exact at both rollup levels") {
    val est = StatsQueries.aggSketch(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    for ((k, e) <- exact)
      assert(math.abs(est(k) - e).toDouble / e <= 0.05, s"$k: ${est(k)} vs $e")
    assert(math.abs(est("__all__") - exactAll).toDouble / exactAll <= 0.05,
      s"union: ${est("__all__")} vs $exactAll")
  }

  test("hash sample draws ~1/8 of lineitem, deterministically") {
    val total = Tables.lineitem(spark, sfDir).count()
    def sampled() = StatsQueries.sampleHash(spark, sfDir)
      .agg(sum("n")).collect().head.getLong(0)
    val n = sampled()
    assert(math.abs(n.toDouble / total - 2.0 / 16) < 0.03,
      s"sample fraction ${n.toDouble / total}")
    assert(n === sampled(), "hash sample not deterministic")
  }

  test("argmax tiebreak is deterministic: max (value, id) struct") {
    // Duplicate values with distinct ids: the larger id must win the tie.
    import spark.implicits._
    val df = Seq(("a", 1.0, 10L), ("a", 1.0, 20L), ("a", 0.5, 99L))
      .toDF("g", "value", "event_id")
    val top = df.groupBy("g")
      .agg(max(struct(col("value"), col("event_id")))
        .getField("event_id").as("top"))
      .collect().head.getLong(1)
    assert(top === 20L)
  }

  test("connected components: edges closed, labels canonical, keep marks min") {
    val cc = GraphQueries.dedupCc(spark, sfDir)
    val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Component label is the min id of the component: label <= node, and
    // the label's own label is itself (canonical representative).
    labels.foreach { case (node, comp) =>
      assert(comp <= node)
      assert(labels(comp) === comp, s"non-canonical label $comp")
    }
    // Every near-dup edge connects nodes in the SAME component.
    val edges = SimilarityQueries.dedupEmbed(spark, sfDir)
      .select("v1", "v2").collect()
    edges.foreach { r =>
      assert(labels(r.getLong(0)) === labels(r.getLong(1)),
        s"edge ${r.getLong(0)}-${r.getLong(1)} spans components")
    }
    // `keep` is exactly one per component.
    val keeps = cc.filter(col("keep")).count()
    assert(keeps === labels.values.toSet.size.toLong)
  }

  test("triangle stage: K4, paths, stars and isolates count exactly") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, coefficient 1), path 5-6-7 (wedge, no
    // closing edge), star center 10 with leaves 11-13 (all wedges open —
    // and all its edges point INTO the hub under degree orientation),
    // isolate 8 in the universe only.
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("lo", "hi")
    val universe = (Seq(8L) ++ (1L to 7L) ++ (10L to 13L)).toDF("id")
    val out = GraphQueries.trianglesOverPairs(spark, pairs, universe, "id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    (1L to 4L).foreach { v => assert(out(v) === ((3L, 3L, 1.0)), s"K4 $v") }
    assert(out(5L) === ((1L, 0L, 0.0)))
    assert(out(6L) === ((2L, 0L, 0.0)))
    assert(out(7L) === ((1L, 0L, 0.0)))
    assert(out(8L) === ((0L, 0L, 0.0)))
    assert(out(10L) === ((3L, 0L, 0.0)))
    (11L to 13L).foreach { v => assert(out(v) === ((1L, 0L, 0.0))) }
  }

  test("time-series invariants: z-scores center, ACF bounded") {
    import graft.operators.TimeSeriesQueries
    // Per type, Σ(n − mean) = 0 exactly ⇒ Σ z ≈ 0 (z is the rounded
    // centered count over a positive constant).
    val zs = TimeSeriesQueries.tsAnomaly(spark, sfDir).collect()
      .groupBy(_.getString(0))
    zs.foreach { case (t, rows) =>
      val sumZ = rows.map(_.getDouble(3)).sum
      assert(math.abs(sumZ) < 0.01 * rows.length,
        s"$t z-scores don't center: $sumZ over ${rows.length}")
      rows.foreach { r =>
        assert(r.getBoolean(4) === (math.abs(r.getDouble(3)) >= 3.0))
      }
    }
    // Cauchy-Schwarz: |Σ d_t·d_{t+l}| ≤ Σ d_t² ⇒ |r_l| ≤ 1.
    TimeSeriesQueries.tsAcf(spark, sfDir).collect().foreach { r =>
      Seq(2, 3).foreach { i =>
        if (!r.isNullAt(i))
          assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-9,
            s"${r.getString(0)} acf out of bounds: ${r.getDouble(i)}")
      }
    }
  }

  test("pagerank matches a plain-Scala replay of the synchronous iteration") {
    // Replicate the declared integer fixed point (init 10⁶ units, then
    // r' = 150000 + (85 · Σ inbound r div outDeg) div 100 for 10
    // synchronous rounds) over the same exact cos ≥ 0.4 edge set, in
    // driver-side Scala Long arithmetic — EXACT equality expected, the
    // semantics carry no float accumulation anywhere.
    val edges = SimilarityQueries.dedupEmbed(spark, sfDir)
      .select("v1", "v2").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0)))
    assert(edges.nonEmpty, "fixture has no >=0.4 pairs — test is vacuous")
    val outDeg = edges.groupBy(_._1).map { case (v, es) => v -> es.length }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var rank = verts.map(_ -> 1000000L).toMap
    for (_ <- 1 to 10) {
      val msg = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      edges.foreach { case (src, dst) =>
        msg(dst) += rank(src) / outDeg(src)
      }
      rank = verts.map(v => v -> (150000L + (85L * msg(v)) / 100L)).toMap
    }
    val got = GraphQueries.graphPagerank(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rank.foreach { case (v, units) =>
      val expected = BigDecimal(units.toDouble / 1000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(v) === expected,
        s"vertex $v: got ${got(v)}, replica $expected ($units units)")
    }
    // Everything outside the edge set sits at the no-inlink fixed point.
    val connected = verts.toSet
    got.foreach { case (v, r) =>
      if (!connected(v)) assert(r === 0.15, s"singleton $v rank $r")
    }
  }

  test("sign-LSH ANN: per-probe invariants and determinism") {
    val out = SimilarityQueries.annRp(spark, sfDir).collect()
    val byProbe = out.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rows) =>
      assert(rows.length <= 5, s"probe $p returned ${rows.length} rows")
      val scores = rows.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(scores === scores.sorted.reverse, s"probe $p not rank-ordered")
      assert(!rows.exists(_.getLong(1) == p), "probe returned itself")
    }
    val again = SimilarityQueries.annRp(spark, sfDir).collect()
    assert(out.toSeq === again.toSeq, "sign-LSH not deterministic")
  }

  test("csv and json round-trips preserve values exactly") {
    val viaCsv = SourceQueries.scanCsv(spark, sfDir).collect().toSeq
    val direct = Tables.nation(spark, sfDir)
      .orderBy("n_nationkey").collect().toSeq
    assert(viaCsv === direct)
    val viaJson = SourceQueries.scanJson(spark, sfDir).collect().toSeq
    val directS = Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey").collect().toSeq
    assert(viaJson === directS)
  }

  test("zorder interleaves bits exactly (reference implementation)") {
    import spark.implicits._
    def ref(a: Int, b: Int, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((a >> i) & 1).toLong << (2 * i)) |
          (((b >> i) & 1).toLong << (2 * i + 1))
      }
    val rng = new scala.util.Random(7)
    val pts = Seq.fill(200)((rng.nextInt(1 << 16), rng.nextInt(1 << 16)))
    val out = pts.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.sources.LayoutOps.zorder(col("a"), col("b")).as("z"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(2) === ref(r.getInt(0), r.getInt(1), 16))
    }
  }

  test("zorder clustering tightens per-file min/max on both dimensions") {
    // Write the same 2-D data sorted by z-curve vs by nothing; the
    // z-ordered layout must give strictly smaller per-file bounding boxes
    // (that is the whole point: row-group skipping on either column).
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = Seq.fill(20000)((rng.nextInt(1 << 14), rng.nextInt(1 << 14)))
      .toDF("x", "y")
    val base = "/tmp/graft-io/zorder-test"
    df.repartition(8).write.mode("overwrite").parquet(s"$base/plain")
    graft.sources.LayoutOps
      .zorderLayout(df, col("x"), col("y"), numFiles = 8, bits = 14)
      .write.mode("overwrite").parquet(s"$base/zorder")
    def avgBoxArea(dir: String): Double = {
      val spans = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg(((max("x") - min("x")).cast("double") *
          (max("y") - min("y")).cast("double")).as("area"))
        .collect().map(_.getDouble(1))
      spans.sum / spans.length
    }
    val plain = avgBoxArea(s"$base/plain")
    val z = avgBoxArea(s"$base/zorder")
    assert(z < plain * 0.9,
      s"z-order did not tighten file bounding boxes: $z vs $plain")
  }

  test("compact rewrites a many-small-files directory to the target count") {
    val base = "/tmp/graft-io/compact-test"
    Tables.documents(spark, sfDir).repartition(50)
      .write.mode("overwrite").parquet(s"$base/small")
    val smallFiles = new java.io.File(s"$base/small")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(smallFiles === 50)
    graft.sources.LayoutOps.compact(spark, s"$base/small",
      s"$base/compacted", targetBytes = 512L * 1024)
    val bigFiles = new java.io.File(s"$base/compacted")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(bigFiles < smallFiles / 5,
      s"expected far fewer files, got $bigFiles")
    // Content identical (as multisets).
    val a = Tables.documents(spark, sfDir)
    val b = spark.read.parquet(s"$base/compacted")
    assert(b.count() === a.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("compact sizes its input through the path's own FileSystem scheme") {
    // Regression for the java.io.File sizing bug: a scheme-qualified URI
    // (file:// here, hdfs:///s3a:// in production) made listFiles return
    // null → inputBytes 0 → the whole directory rewritten into ONE file.
    // Input is hive-partitioned so the recursive listing is exercised too.
    val base = "/tmp/graft-io/compact-scheme-test"
    Tables.documents(spark, sfDir).repartition(40)
      .write.mode("overwrite").partitionBy("lang").parquet(s"$base/small")
    val inputBytes = {
      def walk(f: java.io.File): Long =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(s"$base/small"))
    }
    val target = 256L * 1024
    val expected = math.max(1, math.ceil(inputBytes.toDouble / target).toInt)
    val n = graft.sources.LayoutOps.compact(spark, s"file://$base/small",
      s"file://$base/compacted", targetBytes = target)
    assert(n === expected,
      s"file count must derive from the input's on-disk bytes: $n vs $expected")
    assert(n > 1, "partitioned multi-MB input must not collapse to one file")
    assert(spark.read.parquet(s"$base/compacted").count() ===
      Tables.documents(spark, sfDir).count())
  }

  test("compact fails loudly when the input has no parquet data") {
    val dir = "/tmp/graft-io/compact-empty-test"
    new java.io.File(dir).mkdirs()
    val e = intercept[IllegalArgumentException] {
      graft.sources.LayoutOps.compact(spark, dir, s"$dir-out", 1024L)
    }
    assert(e.getMessage.contains("no parquet data"))
  }

  test("observe() metrics instrument a pipeline without a second pass") {
    // Production jobs attach data-quality counters to the SAME action that
    // produces the output (no extra scan): count + null-rate + sum ride
    // along with the query via CollectMetrics.
    val obs = new org.apache.spark.sql.Observation("curate-metrics")
    val curated = Tables.documents(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("rows_in"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)).as("empty_texts"),
        sum("n_chars").as("total_chars"))
      .filter(col("n_chars") > 0)
    val outRows = curated.count()
    val m = obs.get
    assert(m("rows_in").asInstanceOf[Long] === 500L)
    assert(m("empty_texts").asInstanceOf[Long] === 0L)
    assert(m("total_chars").asInstanceOf[Long] > 0L)
    assert(outRows <= m("rows_in").asInstanceOf[Long])
  }

  test("partitioned sink read-back prunes partitions on the lang filter") {
    SourceQueries.sinkPartitioned(spark, sfDir).collect() // writes the layout
    val dir = SourceQueries.scratch(sfDir, "documents_by_lang")
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang not in PartitionFilters:\n$scan")
  }

  test("dedup_keep: one keeper per multi-member cluster, keeper is the " +
      "quality argmax") {
    import graft.operators.{GraphQueries, TextQueries}
    val comp = GraphQueries.dedupCcLsh(spark, sfDir)
      .select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = TextQueries.textQuality(spark, sfDir)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = comp.groupBy(_._2)
      .filter(_._2.size > 1)
      .map { case (c, members) =>
        // The query's argmax order: (quality, -doc_id) — max quality,
        // smallest id on ties.
        val keeper = members.keys
          .maxBy(id => (quality(id), -id))
        c -> (members.size.toLong, keeper, quality(keeper))
      }
    val got = GraphQueries.dedupKeep(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(got.keySet === expected.keySet,
      "cluster set mismatch between dedupKeep and the CC replay")
    for ((c, (n, keeper, kq)) <- expected) {
      val (gn, gKeeper, gq, gDropped) = got(c)
      assert(gn === n && gKeeper === keeper && gq === kq &&
        gDropped === n - 1,
        s"component $c: got $gn/$gKeeper/$gq/$gDropped, " +
          s"expected $n/$keeper/$kq/${n - 1}")
    }
  }

  test("PCA power iteration: unit norm, eigenpair residual, λ dominates " +
      "diagonal") {
    // Replay the eigenpair claim against the exact covariance the query
    // itself is built on: v must be unit-norm, λ must be at least the
    // largest per-dimension variance (Rayleigh maximality over basis
    // vectors), and A·v must equal λ·v to convergence tolerance.
    val out = graft.operators.VersionQueries.embedPcaPower(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    assert(out.length === 64, s"64 loadings expected: ${out.length}")
    val v = out.map(_.getDouble(1))
    val lambda = out.head.getDouble(2)
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3, s"not unit norm: $norm")
    val cov = graft.operators.VersionQueries.embedCov(spark, sfDir)
      .select("i", "j", "cov").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2))
      .toMap
    def a(i: Int, j: Int): Double =
      cov.getOrElse((math.min(i, j), math.max(i, j)), 0.0)
    val av = (1 to 64).map(i =>
      (1 to 64).map(j => a(i, j) * v(j - 1)).sum)
    val residual = math.sqrt(
      av.zip(v).map { case (x, y) => (x - lambda * y) * (x - lambda * y) }
        .sum)
    // Tolerance states what power iteration genuinely delivers on this
    // fixture: the Gaussian cloud's top eigenpair is near-degenerate
    // (measured λ₂/λ₁ ≈ 0.975 — residual shrinks ~2.5%/iter and
    // plateaus at the gap-limited level ~4% of λ). The invariants that
    // CANNOT degrade — unit norm, λ ≥ every per-dim variance — are
    // asserted tight; a non-iterating vector would sit near residual≈λ.
    assert(residual <= 5e-2 * math.abs(lambda) + 1e-9,
      s"eigenpair residual too large: $residual vs lambda=$lambda")
    val maxDiag = (1 to 64).map(i => a(i, i)).max
    assert(lambda >= maxDiag - 1e-9,
      s"lambda $lambda below max diagonal variance $maxDiag")
    val share = out.head.getDouble(3)
    assert(share > 0 && share <= 1.0 + 1e-9, s"explained_frac: $share")
  }

  test("q_event_paths emits well-formed triples over the known alphabet") {
    val out = StatsQueries.eventPaths(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 20)
    val types = Set("view", "click", "signup", "purchase", "error")
    out.foreach { r =>
      val segs = r.getAs[String]("path").split(">")
      assert(segs.length === 3 && segs.forall(types),
        s"malformed path: ${r.getAs[String]("path")}")
    }
    val ns = out.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      "top-20 must be count-descending")
  }

  test("q_ab_test covers every user once; z is finite") {
    val r = StatsQueries.abTest(spark, sfDir).collect().head
    val users = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === users,
      "variants must partition the user base")
    assert(r.getAs[Long]("conv_a") <= r.getAs[Long]("n_a"))
    assert(r.getAs[Long]("conv_b") <= r.getAs[Long]("n_b"))
    assert(!r.getAs[Double]("z").isNaN && !r.getAs[Double]("z").isInfinite)
  }

  test("q_agg_hhi is bounded: 10000/n <= HHI <= 10000, shares <= 1") {
    val out = StatsQueries.aggHhi(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, hhi, top) = (r.getAs[Long]("n_suppliers"),
        r.getAs[Double]("hhi"), r.getAs[Double]("top_share"))
      assert(hhi >= 10000.0 / n - 1e-6,
        s"HHI below the equal-shares floor: hhi=$hhi n=$n")
      assert(hhi <= 10000.0 + 1e-6 && top <= 1.0 + 1e-9)
      val verdict = r.getAs[String]("verdict")
      assert(Set("competitive", "moderate", "concentrated")(verdict))
    }
  }

  test("q_revenue_concentration is a Lorenz curve: monotone to 1.0") {
    val out = StatsQueries.revenueConcentration(spark, sfDir).collect()
    val custs = Tables.orders(spark, sfDir)
      .select("o_custkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_customers")).sum === custs,
      "deciles must cover every revenue-bearing customer")
    val cum = out.map(_.getAs[Double]("cum_share"))
    assert(cum.zip(cum.tail).forall { case (a, b) => b >= a - 1e-9 },
      "cumulative share must be monotone")
    assert(math.abs(cum.last - 1.0) < 1e-6,
      s"cumulative share must end at 1.0, got ${cum.last}")
    // Concentration: the top decile must out-earn the bottom decile.
    assert(out.head.getAs[Double]("share") >
      out.last.getAs[Double]("share"))
  }

  test("q_agg_anova: SSB+SSW = total SS and F is consistent with them") {
    assertAnovaDecomposes(sfDir)
    // (Σq)² past Long.MaxValue in flag A (Σq = 3.2e9): the per-flag
    // squares must be exact products, not BIGINT ones.
    import spark.implicits._
    val dir = tempCorpus("graft-anova")
    Seq(("A", 2.0e9), ("A", 1.2e9), ("N", 1.0e9), ("N", 5.0e8))
      .toDF("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assertAnovaDecomposes(dir)
  }

  private def assertAnovaDecomposes(dir: String): Unit = {
    val r = StatsQueries.aggAnova(spark, dir).collect().head
    val (k, n) = (r.getAs[Long]("k_groups"), r.getAs[Long]("n_rows"))
    val (ssb, ssw) = (r.getAs[Double]("ssb"), r.getAs[Double]("ssw"))
    assert(k >= 2 && n > k)
    assert(ssb >= 0 && ssw >= 0)
    // Independent total-SS replay: Σx² − (Σx)²/n over the raw column,
    // in exact decimals.
    val raw = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("q"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s1"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("s2"))
      .collect().head
    val mc = java.math.MathContext.DECIMAL128
    val s1 = new BigDecimal(raw.getDecimal(1), mc)
    val s2 = new BigDecimal(raw.getDecimal(2), mc)
    val tot = (s2 - s1 * s1 / raw.getLong(0)).toDouble
    // The query's sums of squares are doubles: allow their rounding,
    // relative to the total, beside the 4dp output rounding.
    assert(math.abs(ssb + ssw - tot) < 1e-2 + 1e-12 * tot,
      s"SS decomposition broken: $ssb + $ssw != $tot")
    val f = r.getAs[Double]("f_stat")
    val expect = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(f - expect) < 1e-3)
  }

  test("q_agg_kendall: tau in [-1,1]; counts consistent with n0") {
    val out = StatsQueries.aggKendall(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n0, nc, nd) = (r.getAs[Long]("n_pairs"),
        r.getAs[Long]("nc"), r.getAs[Long]("nd"))
      assert(nc + nd <= n0, "concordant+discordant cannot exceed pairs")
      if (!r.isNullAt(r.fieldIndex("tau_b"))) {
        val t = r.getAs[Double]("tau_b")
        assert(t >= -1.0 - 1e-9 && t <= 1.0 + 1e-9)
      }
    }
    // A perfectly monotone mini-frame must yield tau = 1 by brute force:
    // revenue and quantity both increase with suppkey.
    val n0 = out.map(_.getAs[Long]("n_pairs")).sum
    val supps = Tables.lineitem(spark, sfDir)
      .select("l_suppkey").distinct().count()
    assert(n0 > 0 && n0 <= supps * (supps - 1) / 2)
  }

  test("q_graph_label_prop: seeds fixed, frontier monotone, labels valid") {
    val out = graft.operators.GraphQueries.graphLabelProp(spark, sfDir)
      .collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length === n, "every vector must appear exactly once")
    val truth = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val labelDomain = truth.values.toSet
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val src = r.getAs[String]("src")
      if (id % 5 == 0) {
        // Seeds keep their true label at round 0, forever.
        assert(src === "seed")
        assert(r.getAs[Int]("label_final") === truth(id))
        assert(r.getAs[Int]("round_labeled") === 0)
      } else if (src == "propagated") {
        assert(labelDomain(r.getAs[Int]("label_final")),
          "propagated label must come from the seed domain")
        val rd = r.getAs[Int]("round_labeled")
        assert(rd >= 1 && rd <= 3)
      } else {
        assert(src === "unlabeled")
        assert(r.isNullAt(r.fieldIndex("label_final")))
      }
    }
    // The frontier actually expanded: some non-seed node got labeled.
    assert(out.exists(_.getAs[String]("src") == "propagated"),
      "3 rounds over the cos>=0.4 graph must label at least one node")
  }

  test("q_graph_linkpred matches a brute-force neighborhood replay") {
    import graft.operators.GraphQueries
    // Independent edge replay: exact cos >= 0.4 at 4dp, dot and norm
    // accumulated left-to-right in array order like the codegen'd
    // expressions.
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = vecs.keys.toSeq.sorted
    val edges = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4
    } yield (ids(i), ids(j))).toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((a, b) <- edges) { adj(a) += b; adj(b) += a }
    val out = GraphQueries.graphLinkpred(spark, sfDir).collect()
    assert(out.nonEmpty, "fixture graph must yield open wedges")
    for (r <- out) {
      val (a, b) = (r.getAs[Long]("v1"), r.getAs[Long]("v2"))
      assert(a < b, "pairs canonical")
      assert(!edges((a, b)), s"($a,$b) is an existing edge")
      // Brute-force replay under the declared deg<=32 middle cut.
      val common = (adj(a) & adj(b)).filter(z =>
        adj(z).size >= 2 && adj(z).size <= 32)
      assert(r.getAs[Long]("cn") == common.size, s"cn of ($a,$b)")
      assert(r.getAs[Long]("deg1") == adj(a).size)
      assert(r.getAs[Long]("deg2") == adj(b).size)
      val aa = common.toSeq.map(z =>
        math.round(1e6 / math.log(adj(z).size.toDouble))).sum / 1e6
      assert(math.abs(r.getAs[Double]("adamic_adar") - aa) < 1e-5)
      val jac = r.getAs[Double]("jaccard")
      assert(jac > 0 && jac <= 1.0)
    }
    // Completeness: every non-adjacent pair with a cut-respecting
    // common neighbor is emitted.
    val expected = (for {
      z <- adj.keys if adj(z).size >= 2 && adj(z).size <= 32
      Seq(a, b) <- adj(z).toSeq.sorted.combinations(2)
      if !edges((a, b))
    } yield (a, b)).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("q_graph_kcore round-6 estimates equal serial-peel core numbers") {
    import graft.operators.GraphQueries
    val out = GraphQueries.graphKcore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Serial peeling replay on the same edge set (derived from the
    // query's own degree output plus the brute-force edges of the
    // linkpred test's construction): repeatedly remove the minimum-
    // degree node; its coreness is the max min-degree seen so far.
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = vecs.keys.toSeq.sorted
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for {
      i <- ids.indices; j <- (i + 1) until ids.size
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4
    } { adj(ids(i)) += ids(j); adj(ids(j)) += ids(i) }
    val degLive = scala.collection.mutable.Map(
      ids.map(v => v -> adj(v).size): _*)
    val live = scala.collection.mutable.Set(ids: _*)
    val core = scala.collection.mutable.Map[Long, Int]()
    var k = 0
    while (live.nonEmpty) {
      val v = live.minBy(x => (degLive(x), x))
      k = math.max(k, degLive(v))
      core(v) = k
      live -= v
      for (u <- adj(v) if live(u)) degLive(u) -= 1
    }
    assert(out.nonEmpty)
    for ((v, d, c) <- out) {
      assert(d == adj(v).size, s"degree of $v")
      assert(c == core(v).toLong,
        s"round-6 estimate of $v ($c) must equal peel coreness ${core(v)}")
    }
  }

  test("q_ts_changepoint matches a brute-force argmax replay") {
    import org.apache.spark.sql.functions._
    val daily = Tables.orders(spark, sfDir)
      .select(expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev")).orderBy("day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = daily.length
    val total = daily.map(_._2).sum
    var best = (Double.MaxValue, Long.MaxValue, 0L, 0L)
    var s1 = 0L
    for (i <- 0 until (n - 1)) {
      s1 += daily(i)._2
      val n1 = (i + 1).toLong; val n2 = (n - i - 1).toLong
      val s2 = total - s1
      val nj = -(s1.toDouble * s1.toDouble / n1.toDouble
        + s2.toDouble * s2.toDouble / n2.toDouble)
      if (nj < best._1 ||
          (nj == best._1 && daily(i)._1 < best._2))
        best = (nj, daily(i)._1, n1, s1)
    }
    val r = graft.operators.TimeSeriesQueries
      .tsChangepoint(spark, sfDir).collect().head
    assert(r.getAs[Long]("cp_day") == best._2)
    assert(r.getAs[Long]("n_left") == best._3)
    assert(r.getAs[Long]("n_left") + r.getAs[Long]("n_right") == n)
    val mL = r.getAs[Double]("mean_left")
    val mR = r.getAs[Double]("mean_right")
    assert(math.abs(mL - best._4.toDouble / best._3 / 100.0) < 1e-3)
    assert(math.abs(r.getAs[Double]("shift") - (mR - mL)) < 1e-3)
  }

  test("q_survival_km: product-limit curve is a valid survival function") {
    val out = graft.operators.StatsQueries.survivalKm(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    var lastSurv = 1.0
    var lastRisk = Long.MaxValue
    var logProd = 0.0
    for (r <- out) {
      val nr = r.getAs[Long]("n_risk")
      val d = r.getAs[Long]("d_events")
      assert(d >= 1 && d <= nr)
      assert(nr < lastRisk, "risk set strictly shrinks over event times")
      lastRisk = nr
      val sv = r.getAs[Double]("surv")
      assert(sv >= 0.0 && sv <= lastSurv + 1e-9,
        "survival is non-increasing")
      lastSurv = sv
      // Serial replay of the quantized product-limit estimate.
      if (d < nr) {
        logProd +=
          math.round(1e6 * math.log((nr - d).toDouble / nr)) / 1e6
        assert(math.abs(sv - math.exp(logProd)) < 1e-5,
          s"surv at dur ${r.getAs[Long]("dur_days")}")
      } else assert(sv == 0.0, "total-death time pins surv to 0")
    }
  }

  test("q_graph_modularity matches a brute-force partition score") {
    val rows = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label").collect()
    val vecs = rows.map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val labOf = rows.map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = vecs.keys.toSeq.sorted
    val edges = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4
    } yield (ids(i), ids(j))
    val m = edges.size.toLong
    val eC = edges.filter(e => labOf(e._1) == labOf(e._2))
      .groupBy(e => labOf(e._1)).view.mapValues(_.size.toLong).toMap
    val dC = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(labOf).view.mapValues(_.size.toLong).toMap
    val out = graft.operators.GraphQueries.graphModularity(spark, sfDir)
      .collect()
    assert(out.nonEmpty && m > 0)
    assert(out.map(_.getAs[Long]("d_c")).sum == 2 * m)
    assert(out.map(_.getAs[Long]("e_c")).sum <= m)
    var qSum = 0.0
    for (r <- out) {
      val l = r.getAs[Long]("label")
      assert(r.getAs[Long]("e_c") == eC.getOrElse(l, 0L))
      assert(r.getAs[Long]("d_c") == dC.getOrElse(l, 0L))
      val expect = eC.getOrElse(l, 0L).toDouble / m -
        math.pow(dC.getOrElse(l, 0L).toDouble / (2.0 * m), 2)
      assert(math.abs(r.getAs[Double]("q_term") - expect) < 1e-5)
      qSum += expect
    }
    val qt = out.map(_.getAs[Double]("q_total")).distinct
    assert(qt.length == 1 && qt.head <= 1.0 + 1e-9)
    assert(math.abs(qt.head - qSum) < 1e-4)
  }

  test("q_ts_theilsen matches a brute-force pairwise-slope replay") {
    import org.apache.spark.sql.functions._
    val daily = Tables.orders(spark, sfDir)
      .select(expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev")).orderBy("day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val slopes = (for {
      i <- daily.indices; j <- (i + 1) until daily.length
    } yield (daily(j)._2 - daily(i)._2).toDouble /
        (daily(j)._1 - daily(i)._1).toDouble).sorted
    // percentile_disc(0.5): the smallest element at cumulative
    // probability >= 0.5.
    val med = slopes(math.ceil(slopes.length * 0.5).toInt - 1)
    val resid = daily.map { case (d, y) => y.toDouble - med * d }.sorted
    val icept = resid(math.ceil(resid.length * 0.5).toInt - 1)
    val r = graft.operators.TimeSeriesQueries.tsTheilSen(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_days") == daily.length)
    assert(r.getAs[Long]("n_pairs") == slopes.length)
    assert(math.abs(r.getAs[Double]("slope_cents_per_day") - med) < 1e-6)
    assert(math.abs(r.getAs[Double]("intercept_cents") - icept) < 0.01)
    val dir = if (med > 0) "up" else if (med < 0) "down" else "flat"
    assert(r.getAs[String]("direction") == dir)
  }

  test("q_ts_holtwinters matches a serial Holt-Winters replay") {
    import org.apache.spark.sql.functions._
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) - unix_micros(ts) % 3600000000").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        val m = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
        val (h0, h1) = (m.keys.min, m.keys.max)
        t -> (h0 to h1 by 3600000000L).map(h =>
          m.getOrElse(h, 0L).toDouble).toArray
      }
    val out = graft.operators.TimeSeriesQueries
      .tsHoltWinters(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val t = r.getAs[String]("event_type")
      val xs = hourly(t)
      assert(r.getAs[Long]("n_hours") == xs.length && xs.length >= 48)
      var l = xs.take(24).sum / 24.0
      val tr0 = (xs.slice(24, 48).sum / 24.0 - xs.take(24).sum / 24.0) / 24.0
      var tr = tr0
      val sv = xs.take(24).map(_ - l)
      for (i <- 24 until xs.length) {
        val idx = i % 24
        val x = xs(i)
        val lNew = 0.2 * (x - sv(idx)) + 0.8 * (l + tr)
        val trNew = 0.1 * (lNew - l) + 0.9 * tr
        sv(idx) = 0.3 * (x - lNew) + 0.7 * sv(idx)
        l = lNew; tr = trNew
      }
      assert(math.abs(r.getAs[Double]("level_last") - l) < 1e-4)
      assert(math.abs(r.getAs[Double]("trend_last") - tr) < 1e-4)
      val fc = l + tr + sv(xs.length % 24)
      assert(math.abs(r.getAs[Double]("forecast_1") - fc) < 1e-3)
      assert(math.abs(r.getAs[Double]("season_amp")
        - (sv.max - sv.min)) < 1e-3)
    }
  }

  test("q_ts_stl: decomposition invariants and eta-squared replay") {
    val out = graft.operators.TimeSeriesQueries.tsStl(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    val byType = out.groupBy(_.getString(0))
    for ((t, rows) <- byType) {
      assert(rows.map(_.getAs[Long]("hod")).distinct.length ==
        rows.length, s"one row per (type, hod) for $t")
      // Exact replay of the quantized decomposition for this type.
      val dense = {
        val m = Tables.events(spark, sfDir)
          .filter(org.apache.spark.sql.functions.col("event_type") === t)
          .selectExpr(
            "unix_micros(ts) - unix_micros(ts) % 3600000000 AS h")
          .groupBy("h").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (h0, h1) = (m.keys.min, m.keys.max)
        (h0 to h1 by 3600000000L).map(h =>
          h -> m.getOrElse(h, 0L)).toArray
      }
      val cells = scala.collection.mutable
        .Map[Long, List[Long]]().withDefaultValue(Nil)
      for (i <- 12 until (dense.length - 12)) {
        val wsum = (i - 12 to i + 12).map(j => dense(j)._2).sum
        val du = math.round(
          10000.0 * (dense(i)._2.toDouble - wsum.toDouble / 25.0))
        val hod = (dense(i)._1 % 86400000000L) / 3600000000L
        cells(hod) = du :: cells(hod)
      }
      for (r <- rows) {
        val hod = r.getAs[Long]("hod")
        val du = cells(hod)
        assert(r.getAs[Long]("n_obs") == du.length, s"($t,$hod)")
        val expect = du.sum.toDouble / (du.length * 10000.0)
        assert(math.abs(r.getAs[Double]("seasonal") - expect) < 1e-3,
          s"seasonal($t,$hod)")
      }
      val strengths = rows.flatMap(r =>
        Option(r.getAs[java.lang.Double]("seasonal_strength"))
          .map(_.doubleValue())).distinct
      assert(strengths.length == 1, s"one strength per type $t")
      assert(strengths.head >= -1e-9 && strengths.head <= 1.0 + 1e-9,
        s"eta-squared in [0,1] for $t: ${strengths.head}")
    }
  }

  /** Replays q_agg_effectsize on `dir`'s orders with exact moments:
    * whole-dollar prices per group, sums of squares as BigInt. */
  private def assertEffectSizeReplay(dir: String): Unit = {
    val rows = Tables.orders(spark, dir)
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0) == "1-URGENT", math.round(r.getDouble(1))))
    val (g1, g2) = rows.partition(_._1)
    val (x1, x2) = (g1.map(_._2), g2.map(_._2))
    val mc = java.math.MathContext.DECIMAL128
    def ss(x: Array[Long]) = {
      val sum = BigDecimal(x.map(BigInt(_)).sum, mc)
      BigDecimal(x.map(v => BigInt(v) * v).sum, mc) - sum * sum / x.length
    }
    val sp = math.sqrt(((ss(x1) + ss(x2)) /
      (x1.length + x2.length - 2)).toDouble)
    val dEff = (BigDecimal(x1.sum, mc) / x1.length -
      BigDecimal(x2.sum, mc) / x2.length).toDouble / sp
    val g = dEff *
      (1.0 - 3.0 / (4.0 * (x1.length + x2.length) - 9.0))
    val r = graft.operators.StatsQueries.aggEffectSize(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n1") == x1.length)
    assert(r.getAs[Long]("n2") == x2.length)
    assert(math.abs(r.getAs[Double]("pooled_sd") - sp) < 0.01)
    assert(math.abs(r.getAs[Double]("cohens_d") - dEff) < 1e-5)
    assert(math.abs(r.getAs[Double]("hedges_g") - g) < 1e-5)
    assert(math.abs(r.getAs[Double]("hedges_g"))
      <= math.abs(r.getAs[Double]("cohens_d")) + 1e-12,
      "the bias correction shrinks |d|")
  }

  test("q_agg_effectsize matches a two-group moment replay") {
    assertEffectSizeReplay(sfDir)
  }

  test("q_agg_effectsize variance guard holds at sf0.1 magnitudes") {
    // 1.5e5 orders near 5e5 dollars, the sf0.1 regime: n·Σc² and (Σc)²
    // reach ~1e20, past a BIGINT — the guard must compare them exactly
    // without an overflow.
    val dir = tempCorpus("graft-effectsize")
    spark.range(150000L)
      .select(
        when(col("id") % 5 === 0, lit("1-URGENT")).otherwise(lit("3-MEDIUM"))
          .as("o_orderpriority"),
        (lit(499000.25) + (col("id") * 7919L) % 2000L +
          when(col("id") % 5 === 0, lit(150.0)).otherwise(lit(0.0)))
          .as("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assertEffectSizeReplay(dir)
    // Three urgent orders near 2e9 dollars: that group's Σc² (~1.1e19)
    // is itself past Long.MaxValue, not only the guard's products.
    import spark.implicits._
    val huge = tempCorpus("graft-effectsize-huge")
    Seq(("1-URGENT", 2.0e9), ("1-URGENT", 1.5e9), ("1-URGENT", 2.2e9),
        ("3-MEDIUM", 1.0e9), ("3-MEDIUM", 4.0e8), ("5-LOW", 7.5e8))
      .toDF("o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$huge/orders.parquet")
    assertEffectSizeReplay(huge)
  }

  test("q_embed_mmr matches a serial greedy replay; diversity holds") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pv = vecs(0L)
    val cand = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v, pv)) }
      .sortBy { case (id, c) => (-c, id) }.take(16)
    var chosen = List(cand.head._1)
    for (_ <- 2 to 5) {
      val rem = cand.filterNot(c => chosen.contains(c._1))
      val next = rem.map { case (id, q) =>
        val red = chosen.map(c => cos(vecs(id), vecs(c))).max
        (id, 0.7 * q - 0.3 * red)
      }.minBy { case (id, sc) => (-sc, id) }._1
      chosen = chosen :+ next
    }
    val out = graft.operators.SimilarityQueries.embedMmr(spark, sfDir)
      .collect()
    assert(out.length == 5)
    assert(out.sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[Long]("vec_id")).toList == chosen)
    // Diversity actually bites: MMR's pick set differs from the plain
    // top-5 on this fixture, and redundancy is bounded.
    val plainTop5 = cand.take(5).map(_._1).toSet
    assert(out.map(_.getAs[Long]("vec_id")).toSet != plainTop5 ||
      out.forall(_.getAs[Double]("redundancy") <= 1.0))
    for (r <- out) {
      // Cosine redundancy lives in [-1, 1] (anti-correlated chosen sets
      // give a NEGATIVE max — diversity bonus, not an error).
      assert(r.getAs[Double]("redundancy") >= -1.0 - 1e-9)
      assert(r.getAs[Double]("redundancy") <= 1.0 + 1e-9)
    }
  }

  test("q_agg_ratio_delta matches a per-customer moment replay") {
    val pc = Tables.orders(spark, sfDir)
      .select("o_custkey", "o_totalprice").collect()
      .groupBy(_.getLong(0))
      .map { case (k, rows) =>
        val x = rows.map(r => math.round(r.getDouble(1))).sum
        val variant =
          if ("01234567".contains(
            org.apache.commons.codec.digest.DigestUtils
              .md5Hex(k.toString).charAt(0))) "A" else "B"
        (variant, x, rows.length.toLong)
      }.toSeq
    def stats(v: String) = {
      val g = pc.filter(_._1 == v)
      val n = g.size.toDouble
      val sx = g.map(_._2).sum.toDouble; val sy = g.map(_._3).sum.toDouble
      val r = sx / sy
      val cxx = g.map(t => t._2.toDouble * t._2).sum - sx * sx / n
      val cyy = g.map(t => t._3.toDouble * t._3).sum - sy * sy / n
      val cxy = g.map(t => t._2.toDouble * t._3).sum - sx * sy / n
      val ybar = sy / n
      val se2 = (cxx - 2 * r * cxy + r * r * cyy) /
        ((n - 1) * n * ybar * ybar)
      (g.size, sy.toLong, r, math.sqrt(se2), se2)
    }
    val (na, oa, ra, sea, s2a) = stats("A")
    val (nb, ob, rb, seb, s2b) = stats("B")
    val r = graft.operators.StatsQueries.aggRatioDelta(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
    assert(r.getAs[Long]("orders_a") == oa)
    assert(r.getAs[Long]("orders_b") == ob)
    assert(math.abs(r.getAs[Double]("ratio_a") - ra) < 1e-3)
    assert(math.abs(r.getAs[Double]("ratio_b") - rb) < 1e-3)
    assert(math.abs(r.getAs[Double]("se_a") - sea) < 1e-4)
    assert(math.abs(r.getAs[Double]("se_b") - seb) < 1e-4)
    assert(math.abs(r.getAs[Double]("z") -
      (ra - rb) / math.sqrt(s2a + s2b)) < 1e-2)
    assert(r.getAs[Double]("se_a") > 0 && r.getAs[Double]("se_b") > 0)
  }

  test("q_agg_theil_u: 0 <= U <= 1 and H(X|Y) <= H(X)") {
    val r = StatsQueries.aggTheilU(spark, sfDir).collect().head
    val (hx, hxy) = (r.getAs[Double]("h_x"), r.getAs[Double]("h_x_given_y"))
    assert(hx >= 0 && hxy >= -1e-9)
    assert(hxy <= hx + 1e-9, "conditioning cannot add entropy")
    val u = r.getAs[Double]("theil_u")
    assert(u >= -1e-9 && u <= 1.0 + 1e-9)
    // Entropy replay on the segment marginals.
    val segs = Tables.customer(spark, sfDir)
      .groupBy("c_mktsegment").count().collect()
      .map(_.getAs[Long]("count").toDouble)
    val n = segs.sum
    val h = math.log(n) - segs.map(c => c * math.log(c)).sum / n
    assert(math.abs(h - hx) < 1e-4, s"H(X) replay $h vs $hx")
  }
}
