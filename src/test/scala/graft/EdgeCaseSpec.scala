package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator edge cases on tiny literal frames (SURVEY §5.2): nulls in join
  * keys, empty groups, rank ties, UTC date boundaries, empty arrays. */
class EdgeCaseSpec extends AnyFunSuite with SparkFixture {

  private def importedImplicits = {
    val s = spark; s.implicits
  }

  test("null join keys never match (inner) and null-extend (left)") {
    import spark.implicits._
    val l = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("k", "lv")
    val r = Seq((Some(1L), "x"), (None, "y")).toDF("k", "rv")
    val inner = l.join(r, Seq("k"), "inner").collect()
    assert(inner.length === 1 && inner.head.getAs[String]("lv") === "a")
    val left = l.join(r, Seq("k"), "left").orderBy("lv").collect()
    assert(left.length === 3)
    assert(left.count(_.isNullAt(2)) === 2, "null keys must null-extend")
  }

  test("aggregation over an empty frame yields zero counts, null sums") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    val row = empty.agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().head
    assert(row.getLong(0) === 0L)
    assert(row.isNullAt(1))
  }

  test("rank vs dense_rank vs row_number on ties") {
    import spark.implicits._
    val df = Seq(("a", 10), ("b", 10), ("c", 5)).toDF("id", "v")
    val w = Window.orderBy(col("v").desc, col("id"))
    val out = df.select(col("id"), rank().over(w).as("r"),
      dense_rank().over(w).as("dr"), row_number().over(w).as("rn"))
      .orderBy("rn").collect()
    assert(out.map(r => (r.getString(0), r.getInt(1), r.getInt(2),
      r.getInt(3))).toSeq ===
      Seq(("a", 1, 1, 1), ("b", 2, 2, 2), ("c", 3, 3, 3)))
    // Without the id tiebreak, a and b genuinely tie:
    val w2 = Window.orderBy(col("v").desc)
    val tied = df.select(rank().over(w2).as("r")).collect().map(_.getInt(0))
    assert(tied.sorted.toSeq === Seq(1, 1, 3))
  }

  test("graft_vec_dot: empty arrays give 0.0") {
    import spark.implicits._
    Tables.embeddings(spark, sfDir) // registers graft_vec_dot
    val df = Seq(
      (Array.empty[Float], Array.empty[Float]),
      (Array(1f, 2f, 3f), Array(2f, 3f, 4f))).toDF("a", "b")
    val out = df.select(call_function("graft_vec_dot", col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(0.0, 20.0))
  }

  test("timestamp filtering respects UTC at day boundaries") {
    import spark.implicits._
    val df = Seq("2023-12-31 23:59:59.999", "2024-01-01 00:00:00.000")
      .toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val n = df.filter(col("ts") >= lit("2024-01-01").cast("timestamp"))
      .count()
    assert(n === 1L)
  }

  test("hour-bucket start contains its pre-epoch event (floor semantics)") {
    // q_agg_windowed_distinct's bucket arithmetic must use floor-mod:
    // −1.5 h lies in [−2 h, −1 h), so its bucket START is −2 h. A
    // truncate-toward-zero `%` formulation would return −1 h — a bucket
    // that does not contain the event. The fixture is all post-epoch, so
    // only this test catches that divergence (the oracle replicates
    // floor-mod as ((x % m + m) % m)).
    import spark.implicits._
    val out = Seq(
      "1969-12-31 22:30:00", // pre-epoch, mid-bucket
      "1970-01-01 01:30:00"  // post-epoch control
    ).toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
      .select(graft.operators.AggQueries.hourBucketStartUs(col("ts")))
      .collect().map(_.getLong(0))
    assert(out.toSeq === Seq(-7200000000L, 3600000000L))
  }

  test("set ops partition a set: except ∪ intersect = original (distinct)") {
    import spark.implicits._
    val a = Seq(1, 2, 3, 4, 5).toDF("v")
    val b = Seq(4, 5, 6).toDF("v")
    val recombined = a.except(b).union(a.intersect(b))
    assert(recombined.orderBy("v").collect().map(_.getInt(0)).toSeq ===
      Seq(1, 2, 3, 4, 5))
  }

  test("text chunking boundaries: stride multiples, shorts, empty text") {
    // Pins the window arithmetic the q_text_chunk oracle-equivalence
    // comment asserts (sequence(0,n−1,48) ≡ range(0,n,48) for n ≥ 1):
    //  - n=48 (one full stride, < window): exactly 1 chunk of 48;
    //  - n=49 (one past the stride): 2 chunks, the second 1 token long;
    //  - n=64 (exactly one window): 1 chunk of 64 PLUS the stride-48
    //    chunk of 16 — overlap windows keep emitting while start < n;
    //  - empty text: split yields [""], one 1-token chunk (md5 of "").
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 48).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 49).map(i => s"t$i").mkString(" ")),
      (3L, (1 to 64).map(i => s"t$i").mkString(" ")),
      (4L, ""))
    val dir = tempCorpus("graft-chunk-edge")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextQueries.textChunk(spark, dir)
      .select("doc_id", "chunk_id", "chunk_start", "chunk_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      (1L, 0L, 0L, 48L),
      (2L, 0L, 0L, 49L), (2L, 1L, 48L, 1L),
      (3L, 0L, 0L, 64L), (3L, 1L, 48L, 16L),
      (4L, 0L, 0L, 1L)))
  }

  test("packing: consecutive short docs share a bin, budget starts a new one") {
    // Four 100-token docs in one (lang, shard): docs at cum_before
    // 0/100/200 land in bin 0 (200 div 256 = 0 — a doc may START under
    // budget and overflow it; greedy packing cuts on the NEXT doc), the
    // fourth at cum_before 300 opens bin 1.
    import spark.implicits._
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val dir = tempCorpus("graft-pack-edge")
    (0L until 4L).map(i => (i, "en", text)).toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextQueries.textPack(spark, dir)
      .select("bin", "n_docs", "tokens", "first_doc", "last_doc")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq((0L, 3L, 300L, 0L, 2L), (1L, 1L, 100L, 3L, 3L)))
  }

  test("ffill grid is contiguous per user and gaps carry the last value") {
    val rows = graft.operators.WindowQueries.windowFfill(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("hour_us"),
        r.getAs[Long]("n_events"), r.getAs[Double]("val")))
    assert(rows.nonEmpty)
    // The fixture's per-user event streams are sparse at hourly
    // granularity, so real gaps must exist — otherwise the query under
    // test degenerates to the plain hourly aggregate.
    assert(rows.exists(_._3 == 0L), "no gap hours — fixture degenerate")
    rows.groupBy(_._1).foreach { case (user, rs) =>
      val sorted = rs.sortBy(_._2)
      // Grid spans [min,max] with no holes.
      sorted.map(_._2).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b - a === 3600000000L,
          s"user $user: grid hole between $a and $b")
        case _ => ()
      }
      // The span starts at the user's first active hour.
      assert(sorted.head._3 > 0L, s"user $user: leading gap row")
      // LOCF: a gap hour repeats the previous hour's value, never null.
      sorted.zip(sorted.tail).foreach { case (prev, cur) =>
        if (cur._3 == 0L)
          assert(cur._4 === prev._4,
            s"user $user hour ${cur._2}: gap value not carried forward")
      }
    }
  }

  test("chunk dedup agrees with the chunk inventory's duplicate groups") {
    val inv = graft.operators.TextQueries.textChunk(spark, sfDir).collect()
      .groupBy(_.getAs[String]("chunk_md5"))
    val expected = inv.collect {
      case (md5, rs) if rs.length > 1 =>
        md5 -> (rs.length.toLong, rs.map(_.getAs[Long]("doc_id")).distinct
          .length.toLong, rs.map(_.getAs[Long]("doc_id")).min)
    }
    val got = graft.operators.TextQueries.chunkDedup(spark, sfDir).collect()
      .map(r => r.getAs[String]("chunk_md5") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("first_doc"))).toMap
    assert(got === expected.toMap)
  }

  test("containment flags a subset-dup that Jaccard misses") {
    import spark.implicits._
    // Doc 1 (4 tokens → 2 shingles) is fully embedded in doc 2 (22
    // tokens → 20 shingles): containment = 2/2 = 1.0, Jaccard = 2/20 =
    // 0.1 — far below dedup_ngram's 0.6. The decoy doc shares nothing.
    val short = "alpha beta gamma delta"
    val long = short + " " + (1 to 18).map(i => s"w$i").mkString(" ")
    val dir = tempCorpus("graft-contain")
    Seq((1L, short), (2L, long), (3L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = graft.operators.TextQueries.dedupContainment(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
    val jac = graft.operators.TextQueries.dedupNgram(spark, dir).count()
    assert(jac === 0L, "the subset pair must be invisible to Jaccard 0.6")
  }

  test("frontier equals the brute-force dominance check") {
    // The level-table algorithm must agree with the O(n²) definition:
    // kept ⇔ no other doc is ≥ on quality, ≤ on tokens, strict on one.
    val scored = graft.operators.TextQueries.textQuality(spark, sfDir)
      .select("doc_id", "n_tokens", "quality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = scored.filter { case (id, t, q) =>
      !scored.exists { case (oid, ot, oq) =>
        oid != id && oq >= q && ot <= t && (oq > q || ot < t)
      }
    }.map(_._1).toSet
    val got = graft.operators.CurateQueries
      .selectFrontier(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("dq rules pin the fixture's real violations and their pass flags") {
    val rows = graft.operators.CurateQueries.dqRules(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows.keySet.size === 6)
    // Clean rules: full checked count, zero violations, pass = true.
    assert(rows("lineitem.qty_in_range")._2 === 0L)
    assert(rows("lineitem.qty_in_range")._3)
    assert(rows("lineitem.orderkey_fk")._2 === 0L)
    assert(rows("orders.status_domain")._2 === 0L)
    // The fixture genuinely violates these three; pass must go false.
    assert(rows("lineitem.pk_unique")._2 > 0L)
    assert(!rows("lineitem.pk_unique")._3)
    assert(rows("lineitem.ship_after_order")._2 > 0L)
    assert(!rows("lineitem.ship_after_order")._3)
    assert(rows("customer.acctbal_nonneg")._2 > 0L)
    assert(!rows("customer.acctbal_nonneg")._3)
    // checked is the scanned row count, identical for same-table rules.
    assert(rows("lineitem.qty_in_range")._1 ===
      rows("lineitem.pk_unique")._1)
  }

  test("null-safe join keeps NULL keys as one real cross-matched group") {
    val rows = graft.operators.JoinQueries.joinNullSafe(spark, sfDir)
      .collect()
    val nullRow = rows.filter(_.isNullAt(0))
    assert(nullRow.length === 1, "exactly one NULL-key group")
    val r = nullRow.head
    // The NULL group is a full cross-match of the keyless entities —
    // the rows a plain equi join would silently drop.
    assert(r.getAs[Long]("n_pairs") ===
      r.getAs[Long]("n_supp") * r.getAs[Long]("n_cust"))
    assert(r.getAs[Long]("n_supp") >= 1L && r.getAs[Long]("n_cust") >= 1L)
  }

  test("bitmap distinct-count survives bucket boundaries (multi-bucket)") {
    // q_agg_bitmap's fixture ids may all land in bucket 1 — this pins the
    // cross-bucket path: ids straddling the 32768-bit bucket width must
    // still sum to the exact distinct count, including the id exactly ON
    // the boundary and a duplicate in each bucket.
    import spark.implicits._
    val ids = Seq(1L, 2L, 2L, 32767L, 32768L, 32769L, 65536L, 65536L, 1L)
    val n = ids.toDF("id")
      .select(bitmap_bucket_number(col("id")).as("bkt"),
        bitmap_bit_position(col("id")).as("pos"))
      .groupBy("bkt")
      .agg(bitmap_construct_agg(col("pos")).as("bm"))
      .agg(sum(bitmap_count(col("bm"))).as("n"))
      .collect().head.getLong(0)
    assert(n === ids.distinct.size.toLong,
      s"bitmap rollup lost ids across buckets: $n")
  }

  test("q_text_compress: deterministic, bounded, and repetition-sensitive") {
    val q = graft.operators.TextQueries.textCompress(spark, sfDir)
    val a = q.collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val (n, z) = (r.getAs[Long]("n_bytes"), r.getAs[Long]("z_bytes"))
      val ratio = r.getAs[Double]("ratio")
      assert(n > 0 && z > 0)
      // deflate overhead is bounded (header + 5B/16K stored-block cost)
      assert(ratio > 0.0 && ratio <= 1.2, s"ratio out of range: $ratio")
      // real prose of any length compresses at least somewhat
      if (n > 200) assert(z < n, s"doc ${r.getLong(0)}: $z !< $n")
    }
    // byte-identical across runs: the kernel has no run-dependent state
    val b = graft.operators.TextQueries.textCompress(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq, "q_text_compress must be deterministic")
    // the signal itself: heavy repetition compresses far below prose
    import spark.implicits._
    val probe = Seq((1L, "the cat sat on the mat " * 40),
      (2L, (1 to 240).map(i => s"w${i * 7919 % 997}x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val zs = probe.as[(Long, String)].mapPartitions { rows =>
      val d = new java.util.zip.Deflater(6)
      val buf = new Array[Byte](64 * 1024)
      rows.map { case (id, t) =>
        val in = t.getBytes("UTF-8"); d.reset(); d.setInput(in); d.finish()
        var z = 0L
        while (!d.finished()) z += d.deflate(buf)
        (id, z.toDouble / in.length)
      }
    }.collect().toMap
    assert(zs(1L) < zs(2L) / 2,
      s"repetitive text must compress far better: ${zs(1L)} vs ${zs(2L)}")
  }

  /** Write a miniature table under a scratch dir shaped like a testdata
    * scale-factor dir, so operators can be driven through `Tables.*` on
    * adversarial corpora the fixture doesn't contain. */
  private def miniDir(name: String)(
      tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = s"/tmp/graft-mini/$name"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    tables.foreach { case (t, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("q_ts_interp: interior gap interpolates exactly; singleton holds") {
    import spark.implicits._
    val h = 3600000000L
    val ev = Seq(
      (1L, 0L * h, 7L, "a", 1.00, "{}"),       // hour 0 observed
      (2L, 2L * h, 7L, "a", 3.00, "{}"),       // hour 2 observed, hour 1 gap
      (3L, 5L * h, 8L, "b", 9.99, "{}"))       // singleton series
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val dir = miniDir("interp")("events" -> ev)
    val rows = graft.operators.TimeSeriesQueries.tsInterp(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1) / h,
        r.getBoolean(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(
      ("a", 0L, true, 1.0), ("a", 1L, false, 2.0), ("a", 2L, true, 3.0),
      ("b", 5L, true, 9.99)),
      s"got: ${rows.toSeq}")
  }

  /** Doubled average rank of each key among `ks`: 2·#less + #ties + 1,
    * under `ord` (the engines' sort order, which decides the ties). */
  private def halfRanks[K](ks: Seq[K])(implicit ord: Ordering[K]): Seq[BigInt] =
    ks.map(k => BigInt(2 * ks.count(ord.lt(_, k)) + ks.count(ord.equiv(_, k)) + 1))

  test("q_agg_spearman: heavy ties, NULL keys and a constant-quantity " +
      "flag replay the exact moments in BigInt") {
    import spark.implicits._
    // A: ties in both columns; N: the same plus NULL quantities and
    // prices (NULLs sort first and tie with each other); R: constant
    // quantity, so its x-rank variance is 0 and the guard emits NULL.
    val rng = new scala.util.Random(23L)
    val rows = (0 until 1200).map { i =>
      val f = Seq("A", "N", "R")(i % 3)
      val q = if (f == "R") Some(7.0)
        else if (f == "N" && i % 41 == 1) None
        else Some((rng.nextInt(6) + 1).toDouble)
      val p = if (f == "N" && i % 37 == 1) None
        else Some((rng.nextInt(60) + 1) * 0.25 + 100)
      (i.toLong, f, q, p)
    }
    val li = rows.toDF("l_orderkey", "l_returnflag", "l_quantity",
      "l_extendedprice")
    val dir = miniDir("spearman")("lineitem" -> li)
    val got = graft.operators.StatsQueries.aggSpearman(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val exp = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (f, rs) =>
      val rx = halfRanks(rs.map(_._3.map(x => sparkRound(x, 0).toLong)))
      val ry = halfRanks(rs.map(_._4.map(x => sparkRound(x * 100, 0).toLong)))
      def dsum(xs: Seq[BigInt]) = xs.sum.toDouble
      val (c, sx, sy) = (rs.size.toDouble, dsum(rx), dsum(ry))
      val sxx = dsum(rx.map(x => x * x))
      val syy = dsum(ry.map(y => y * y))
      val sxy = dsum(rx.zip(ry).map { case (x, y) => x * y })
      val rho = if (c * sxx > sx * sx && c * syy > sy * sy)
        Some(sparkRound((c * sxy - sx * sy)
          / (math.sqrt(c * sxx - sx * sx) * math.sqrt(c * syy - sy * sy)), 6))
        else None
      (f, rs.size.toLong, rho)
    }
    assert(got === exp)
    assert(exp.map(_._3.isDefined) === Seq(true, true, false))
  }

  test("q_eval_auc: −0.0/0.0 and NaN scores tie as one group each") {
    import spark.implicits._
    // dim1 holds signed zeros and NaNs: the sort treats −0.0 = 0.0 and
    // NaN = NaN (above +∞), and the average ranks must follow that.
    val vals = Seq(-0.0f, 0.0f, Float.NaN, 1.0f, -1.0f, Float.PositiveInfinity)
    val rng = new scala.util.Random(5L)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq(vals(rng.nextInt(vals.size)), rng.nextInt(4).toFloat),
        rng.nextInt(5))
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val dir = miniDir("auc_ties")("embeddings" -> emb)
    val got = graft.operators.VersionQueries.evalAuc(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    // Doubles compared by the sort's order: total order with NaN last
    // and the two zeros equal (java.lang.Double.compare would split them).
    val ord: Ordering[Double] = (a: Double, b: Double) =>
      if (a.isNaN || b.isNaN) java.lang.Boolean.compare(a.isNaN, b.isNaN)
      else java.lang.Double.compare(a + 0.0, b + 0.0)
    for ((scorer, j) <- Seq("dim1" -> 0, "dim2" -> 1)) {
      val scores = rows.map(_._2(j).toDouble)
      val pos = rows.map(_._3 % 2 == 1)
      val r2 = halfRanks(scores)(ord)
      val p = pos.count(identity).toLong
      val n = rows.size - p
      val rp2 = r2.zip(pos).collect { case (r, true) => r }.sum
      val auc = sparkRound((rp2 - p * (p + 1)).toDouble / (2.0 * p * n), 6)
      assert(got(scorer) === auc, s"$scorer")
    }
  }

  test("q_select_head: crossing row kept, post-half rows cut, 1-doc lang") {
    import spark.implicits._
    // lang 'xx': doc 1 carries 60% of the mass (crossing row — kept),
    // doc 2 the other 40% (mass before it is 60% ≥ half — cut).
    // lang 'yy': a single doc is always its own head.
    val docs = Seq(
      (1L, "w " * 200 + "w", "xx", "s", 60L),
      (2L, "w", "xx", "s", 40L),
      (3L, "w", "yy", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("selecthead")("documents" -> docs)
    val kept = graft.operators.CurateQueries.selectHead(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L, 3L), s"head picked: $kept")
  }

  test("q_rfm: fewer customers than quintiles stays deterministic") {
    import spark.implicits._
    val day = 86400000000L
    val ords = Seq(
      (1L, 10L, "O", 100.00, 10L * day, "1-URGENT"),
      (2L, 20L, "O", 200.00, 20L * day, "1-URGENT"),
      (3L, 30L, "O", 300.00, 30L * day, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "us", "o_orderpriority")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), timestamp_micros(col("us")).as("o_orderdate"),
        col("o_orderpriority"))
    val dir = miniDir("rfm")("orders" -> ords)
    val rows = graft.operators.StatsQueries.rfm(spark, dir).collect()
    assert(rows.length === 3)
    // 3 rows through ntile(5): buckets 1..3, most recent/biggest gets 3
    val byCust = rows.map(r => r.getLong(0) ->
      (r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    // r: most recent → 3; f: all-tie broken by custkey → 3; m: biggest → 3
    assert(byCust(30L) === ((3, 3, 3)),
      s"newest/biggest spender misranked: ${byCust(30L)}")
    assert(byCust(10L)._1 === 1, "oldest customer must take r_score 1")
    assert(rows.map(_.getInt(4)).forall(x => x >= 1 && x <= 3))
  }

  test("q_dedup_bloom: planted dups always confirmed, counts reconcile") {
    import spark.implicits._
    // delta = doc_id % 4 == 0. Docs 0 and 4 duplicate base docs 1 and 5
    // (bloom must pass BOTH — no false negatives); docs 8, 12 are new.
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),
      (4L, "delta epsilon", "en", "s", 13L),
      (8L, "unique text eight", "en", "s", 17L),
      (12L, "je suis nouveau", "fr", "s", 15L),
      (1L, "alpha beta gamma", "en", "s", 16L),
      (5L, "delta epsilon", "en", "s", 13L),
      (6L, "base only six", "en", "s", 13L),
      (7L, "encore une base", "fr", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("bloom")("documents" -> docs)
    val rows = graft.operators.CurateQueries.dedupBloom(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = rows("en")
    assert(en.getAs[Long]("n_dup") === 2L,
      s"planted dups missed (false negative!): $en")
    for (r <- rows.values) {
      assert(r.getAs[Long]("n_delta") ===
        r.getAs[Long]("n_pruned") + r.getAs[Long]("n_candidates"),
        s"pruning accounting broken: $r")
      assert(r.getAs[Long]("n_false_pos") ===
        r.getAs[Long]("n_candidates") - r.getAs[Long]("n_dup"))
      assert(r.getAs[Long]("n_false_pos") >= 0L)
    }
    // determinism: fixed-seed sketch, order-independent insertion
    val again = graft.operators.CurateQueries.dedupBloom(spark, dir)
      .collect().map(_.toSeq)
    assert(again.toSeq ===
      graft.operators.CurateQueries.dedupBloom(spark, dir)
        .collect().map(_.toSeq).toSeq)
  }

  test("q_ts_cusum: detects a sustained 1-sigma drift, ignores stationary") {
    import spark.implicits._
    val h = 3600000000L
    // 'drift': 48 quiet hours (alternating 10/12 events) then 48 shifted
    // hours (alternating 13/15) — no single hour is anomalous against
    // the pooled distribution, but the shift is sustained. 'flat':
    // the same alternation throughout.
    def mk(tpe: String, perHour: Int => Int): Seq[(Long, Long, String)] =
      for {
        hour <- 0 until 96
        k <- 0 until perHour(hour)
      } yield ((hour.toLong << 16) | k.toLong, hour * h + k * 1000L, tpe)
    val rows =
      mk("drift", i => (if (i < 48) 10 else 13) + (i % 2) * 2) ++
        mk("flat", i => 10 + (i % 2) * 2)
    val ev = rows.toDF("event_id", "us", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        lit(1L).as("user_id"), col("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = miniDir("cusum")("events" -> ev)
    val out = graft.operators.TimeSeriesQueries.tsCusum(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Boolean]("drift_up"), r.getAs[Boolean]("drift_down"),
          r.getAs[Double]("max_cusum_up"))).toMap
    assert(out("drift")._1, s"sustained shift not flagged: ${out("drift")}")
    assert(!out("flat")._1 && !out("flat")._2,
      s"stationary series false-alarmed: ${out("flat")}")
    assert(out("drift")._3 > out("flat")._3 * 2,
      "drift statistic must dominate the stationary one")
  }

  test("cdc_snapshot: tombstone deletes, resurrection only by a LATER " +
      "upsert, singleton upsert survives") {
    import spark.implicits._
    val h = 3600000000L
    // user 1: upsert then tombstone LAST → deleted.
    // user 2: tombstone then a LATER upsert → resurrected with v=2.0.
    // user 3: single upsert → survives, n_versions 1.
    // user 4: only a tombstone → deleted.
    val ev = Seq(
      (1L, 1L * h, 1L, "view", 1.0, "{}"),
      (2L, 2L * h, 1L, "error", 0.0, "{}"),
      (3L, 1L * h, 2L, "error", 0.0, "{}"),
      (4L, 2L * h, 2L, "click", 2.0, "{}"),
      (5L, 1L * h, 3L, "signup", 3.0, "{}"),
      (6L, 1L * h, 4L, "error", 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val dir = miniDir("cdc")("events" -> ev)
    val got = graft.operators.VersionQueries.cdcSnapshot(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        r.getLong(3)))).toMap
    assert(got.keySet === Set(2L, 3L),
      s"surviving keys wrong: ${got.keySet} (1 and 4 must be deleted)")
    assert(got(2L) === (("click", 2.0, 2L)), s"user 2: ${got(2L)}")
    assert(got(3L) === (("signup", 3.0, 1L)), s"user 3: ${got(3L)}")
  }

  test("corpus_diff: planted snapshot classifies add/remove/change " +
      "exactly") {
    import spark.implicits._
    // ids 0..9, one lang: v1 = %5≠0 → {1,2,3,4,6,7,8,9}; v2 = %5≠1 →
    // {0,2,3,4,5,7,8,9} with %3=0 revised. added {0,5}, removed {1,6},
    // changed {3,9} (+7 chars each for ' [rev2]'), unchanged {2,4,7,8}.
    val docs = (0L to 9L).map(i => (i, s"doc number $i body", "en", "t",
      17L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("cdiff")("documents" -> docs)
    val r = graft.operators.VersionQueries.corpusDiff(spark, dir).collect()
    assert(r.length === 1, s"one lang expected: ${r.toSeq}")
    val row = r.head
    assert((row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4), row.getLong(5)) === ((2L, 2L, 2L, 4L, 14L)),
      s"(added, removed, changed, unchanged, chars_delta) wrong: $row")
  }

  test("dedup_lines: a planted shared footer is flagged in both docs " +
      "only") {
    import spark.implicits._
    // d1/d2 share the footer sentence; d3 is wholly unique; d4 repeats
    // a sentence WITHIN itself only (distinct-doc rule: not duplicated).
    val docs = Seq(
      (1L, "alpha beta gamma. SHARED FOOTER TEXT", "en", "t", 36L),
      (2L, "delta epsilon. SHARED FOOTER TEXT", "en", "t", 33L),
      (3L, "wholly unique body here", "en", "t", 23L),
      (4L, "same again. same again", "en", "t", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("dlines")("documents" -> docs)
    val r = graft.operators.TextQueries.dedupLines(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getDouble(5)))).toMap
    assert(r(1L)._1 === 1L && r(2L)._1 === 1L,
      s"footer not flagged in both: $r")
    assert(r(3L) === ((0L, 0.0)), s"unique doc flagged: $r")
    assert(r(4L)._1 === 0L,
      s"within-doc repeat wrongly counts as cross-doc dup: $r")
    // d2: footer 18 chars of 13+18 total → drop_frac = 18/31.
    assert(math.abs(r(2L)._2 - 18.0 / 31.0) < 1e-3, s"drop_frac: $r")
  }

  test("asof_nearest: equidistant views tie-break to the earlier one") {
    import spark.implicits._
    val us = 1000000L
    val ev = Seq(
      // user 7: purchase at t=1000s; views at exactly ±600s (tie →
      // earlier wins), plus one 2h away (outside the band).
      (10L, 400L * us, 7L, "view", 0.0, "{}"),
      (11L, 1600L * us, 7L, "view", 0.0, "{}"),
      (12L, 8200L * us, 7L, "view", 0.0, "{}"),
      (13L, 1000L * us, 7L, "purchase", 1.0, "{}"),
      // user 8: only a too-far view → purchase emits nothing (inner).
      (20L, 0L, 8L, "view", 0.0, "{}"),
      (21L, 7200L * us, 8L, "purchase", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val dir = miniDir("asofnear")("events" -> ev)
    val r = graft.operators.JoinQueries.joinAsofNearest(spark, dir)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq === Seq((13L, 10L, -600L * us)),
      s"tie must pick the earlier view; far-only users drop: ${r.toSeq}")
  }

  test("ts_backtest: linear trend makes EWMA lag (MASE > 1); constant " +
      "series yields MASE null") {
    import spark.implicits._
    val h = 3600000000L
    // type "a": x_t = t for 6 hours — naive error is exactly 1 every
    // step; the lagging EWMA must do worse (MASE > 1). type "b":
    // constant series — naive MAE 0, MASE declared NULL.
    val ev = (1L to 6L).flatMap(t =>
        (1L to t).map(k => (t * 100 + k, (t - 1) * h, 7L, "a", 1.0, "{}"))) ++
      (1L to 3L).map(t => (900L + t, (t - 1) * h, 8L, "b", 1.0, "{}"))
    val df = ev.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val dir = miniDir("backtest")("events" -> df)
    val r = graft.operators.TimeSeriesQueries.tsBacktest(spark, dir)
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getDouble(3) === 1.0, s"naive MAE on x_t=t must be 1: $a")
    assert(!a.isNullAt(4) && a.getDouble(4) > 1.0,
      s"EWMA must lag a linear trend (MASE > 1): $a")
    val b = r("b")
    assert(b.getDouble(2) === 0.0 && b.getDouble(3) === 0.0 &&
      b.isNullAt(4), s"constant series: zero MAEs, NULL MASE: $b")
  }

  /** Two irregular hourly count series, 750 and 731 hours: counts 0..7
    * from a fixed LCG, so about one hour in eight is empty, plus one
    * empty 12-hour run (zero-filled by the dense grid); first and last
    * hour are non-empty
    * so the grid spans the whole array. Returns the events mini table
    * and the dense series each type resamples to. */
  private lazy val irregularHourly: (String, Map[String, Array[Double]]) = {
    import spark.implicits._
    val h = 3600000000L
    val h0 = 472222L * h
    var seed = 12345L
    def next(): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33) % 8).toInt
    }
    val series = Seq("a" -> 750, "b" -> 731).map { case (tpe, n) =>
      tpe -> Array.tabulate(n) { t =>
        val c = next()
        if (t == 0 || t == n - 1) c + 1
        else if (c == 0 || (t >= 100 && t < 112)) 0 else c
      }
    }
    val rows = for {
      (tpe, xs) <- series
      (c, t) <- xs.zipWithIndex
      k <- 0 until c
    } yield (tpe.hashCode.toLong * 1000000L + t * 10L + k,
      h0 + t * h + k * 479000000L, tpe)
    val ev = rows.toDF("event_id", "us", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        lit(1L).as("user_id"), col("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    (miniDir("irregular_hourly")("events" -> ev),
      series.map { case (t, xs) => t -> xs.map(_.toDouble) }.toMap)
  }

  /** Spark's round(x, k) on a double: HALF_UP on the shortest decimal. */
  private def sparkRound(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ts_backtest: struct fold replays the DuckDB twin's (ew, se, sn) " +
      "recurrence on 720+ irregular hours with zero-filled gaps") {
    val (dir, series) = irregularHourly
    val got = graft.operators.TimeSeriesQueries.tsBacktest(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === series.keySet)
    for ((tpe, xs) <- series) {
      // The twin's `rec` CTE: (ew, se, sn) seeded (x₁, 0, 0), each step
      // scoring x against the pre-update ew and the previous x.
      var ew = xs(0); var se = 0.0; var sn = 0.0
      for (i <- 1 until xs.length) {
        se = se + math.abs(xs(i) - ew)
        sn = sn + math.abs(xs(i) - xs(i - 1))
        ew = 0.2 * xs(i) + 0.8 * ew
      }
      val cnt = (xs.length - 1).toDouble
      val maeN = sparkRound(sn / cnt, 4)
      val r = got(tpe)
      assert(r.getLong(1) === xs.length.toLong, s"$tpe n_hours: $r")
      assert(r.getDouble(2) === sparkRound(se / cnt, 4), s"$tpe mae_ewma: $r")
      assert(r.getDouble(3) === maeN, s"$tpe mae_naive: $r")
      assert(maeN > 0 && r.getDouble(4) === sparkRound(se / sn, 4),
        s"$tpe mase: $r")
    }
  }

  test("q_ts_holtwinters: the fold replays the additive Holt-Winters " +
      "recurrence on 720+ irregular hours with zero-filled gaps") {
    val (dir, series) = irregularHourly
    val got = graft.operators.TimeSeriesQueries.tsHoltWinters(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === series.keySet)
    for ((tpe, xs) <- series) {
      val n = xs.length
      val l0 = xs.take(24).foldLeft(0.0)(_ + _) / 24.0
      val m2 = xs.slice(24, 48).foldLeft(0.0)(_ + _) / 24.0
      var l = l0; var tr = (m2 - l0) / 24.0
      val sv = xs.take(24).map(_ - l0)
      for (i <- 24 until n) {
        val x = xs(i); val si = sv(i % 24)
        val lNew = 0.2 * (x - si) + 0.8 * (l + tr)
        tr = 0.1 * (lNew - l) + 0.9 * tr
        sv(i % 24) = 0.3 * (x - lNew) + 0.7 * si
        l = lNew
      }
      val r = got(tpe)
      assert(r.getLong(1) === n.toLong, s"$tpe n_hours: $r")
      assert(r.getDouble(2) === sparkRound(l, 6), s"$tpe level_last: $r")
      assert(r.getDouble(3) === sparkRound(tr, 6), s"$tpe trend_last: $r")
      assert(r.getDouble(4) === sparkRound(l + tr + sv(n % 24), 6),
        s"$tpe forecast_1: $r")
      assert(r.getDouble(5) === sparkRound(sv.max - sv.min, 6),
        s"$tpe season_amp: $r")
    }
  }

  test("bootstrap CI brackets the replicate mean and is deterministic") {
    val q = graft.operators.StatsQueries.aggBootstrapCi(spark, sfDir)
    val r1 = q.collect().head
    assert(r1.getLong(0) === 32L)
    val (m, lo, hi) = (r1.getDouble(1), r1.getDouble(2), r1.getDouble(3))
    assert(lo <= m && m <= hi, s"CI [$lo, $hi] must bracket mean $m")
    assert(hi - lo > 0, "degenerate zero-width CI on a nontrivial corpus")
    // Hash membership ⇒ identical replicates on any rerun or layout.
    val r2 = graft.operators.StatsQueries.aggBootstrapCi(spark, sfDir)
      .collect().head
    assert(r1 === r2, "bootstrap must be bit-deterministic")
  }

  test("codeswitch entropy: pure doc near 0, four-way mix flags mixed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ththththth", "en", "t", 10L),          // one marker only
      (2L, "th er qu rt th er qu rt", "en", "t", 23L), // uniform 4-way
      (3L, "zzzz", "en", "t", 4L))                 // no markers at all
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("codeswitch")("documents" -> docs)
    val r = graft.operators.TextQueries.textCodeswitch(spark, dir)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getDouble(2) === 0.0 && !r(1L).getBoolean(3),
      s"pure doc: ${r(1L)}")
    assert(math.abs(r(2L).getDouble(2) - math.log(4.0)) < 1e-4 &&
      r(2L).getBoolean(3), s"uniform 4-way mix: ${r(2L)}")
    assert(r(3L).isNullAt(2) && r(3L).isNullAt(3),
      s"zero markers must be NULL, not 0/false: ${r(3L)}")
  }

  test("variant_get on a missing key is null, not an error") {
    // The schema-drift contract q_json_variant relies on: a record
    // without the field must extract as NULL (open schema), and a
    // type-matched field must come back typed.
    import spark.implicits._
    val df = Seq("""{"k": 7}""", """{"other": 1}""", """{}""")
      .toDF("props")
      .select(variant_get(parse_json(col("props")), "$.k", "long").as("k"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(Some(7L), None, None))
  }

  test("q_ts_drawdown: peak monotone, dd in [0,1), max_dd is the running max") {
    val out = graft.operators.TimeSeriesQueries.tsDrawdown(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    var peak = Long.MinValue
    var maxDd = 0.0
    out.foreach { r =>
      val (rev, p, dd, mdd) = (r.getAs[Long]("rev_cents"),
        r.getAs[Long]("peak_cents"), r.getAs[Double]("drawdown"),
        r.getAs[Double]("max_drawdown"))
      assert(p >= peak, "running peak must be monotone"); peak = p
      assert(p >= rev, "peak is an upper bound of the series so far")
      assert(dd >= 0.0 && dd < 1.0)
      maxDd = math.max(maxDd, dd)
      assert(math.abs(mdd - maxDd) < 1e-12,
        s"max_drawdown must replay as the running max: $mdd vs $maxDd")
    }
    // A peak day itself has zero drawdown.
    assert(out.filter(r =>
      r.getAs[Long]("rev_cents") == r.getAs[Long]("peak_cents"))
      .forall(_.getAs[Double]("drawdown") == 0.0))
  }

  test("q_text_span_mask: round-trip — unmasking reconstructs the doc") {
    val out = graft.operators.TextQueries.textSpanMask(spark, sfDir)
      .collect()
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.length === texts.size)
    var maskedCount = 0
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      r.getAs[String]("verdict") match {
        case "masked" =>
          maskedCount += 1
          val masked = r.getAs[String]("masked")
          val target = r.getAs[String]("target")
          assert(target.startsWith("<extra_id_0> "))
          // Substituting the target span back at the sentinel must
          // reconstruct the original document exactly.
          val rebuilt = masked.replace("<extra_id_0>",
            target.stripPrefix("<extra_id_0> "))
          assert(rebuilt === texts(id),
            s"doc $id does not round-trip through mask+target")
          assert(target.split(" ").length === 4, "sentinel + 3 tokens")
          val st = r.getAs[Int]("span_start")
          val n = r.getAs[Long]("n_tokens")
          assert(st >= 2 && st <= n - 4, s"span start $st out of [2, ${n - 4}]")
        case "too_short" =>
          assert(r.getAs[Long]("n_tokens") < 8)
          assert(r.getAs[String]("masked") === texts(id),
            "short docs must pass through unmodified")
        case other => fail(s"unexpected verdict $other")
      }
    }
    assert(maskedCount > 0, "fixture must exercise the masking path")
  }

  test("q_ts_var: threshold is a real delta; CVaR <= VaR <= worst 5% tail") {
    val r = graft.operators.TimeSeriesQueries.tsVar(spark, sfDir)
      .collect().head
    val (n, worst, varD, cvar) = (r.getAs[Long]("n_days"),
      r.getAs[Long]("worst_delta"), r.getAs[Long]("var95_cents"),
      r.getAs[Double]("cvar_cents"))
    assert(n > 1)
    // CVaR averages the tail at-or-below the threshold, so it sits
    // between the worst single day and the threshold itself.
    assert(worst <= cvar + 1e-6 && cvar <= varD + 1e-6,
      s"tail ordering broken: worst=$worst cvar=$cvar var=$varD")
    // The discrete threshold must be an actual observed delta.
    val deltas = graft.operators.TimeSeriesQueries
      .tsVar(spark, sfDir) // determinism: second run agrees
      .collect().head
    assert(deltas.getAs[Long]("var95_cents") === varD)
    // Roughly 5% of days sit at or below the VaR threshold (discrete
    // percentile guarantees ceil(0.05 n) at most n long).
    assert(varD <= r.getAs[Double]("var95_interp") + math.abs(
      r.getAs[Double]("var95_interp")) * 0.5 + 1e4)
  }

  test("q_join_radius: pair symmetry, r^2 bound, nearest is a real point") {
    val out = graft.operators.JoinQueries.joinRadius(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length === n, "every point must appear in the census")
    // Radius pairs are symmetric, so the neighbor-count total is even.
    val total = out.map(_.getAs[Long]("n_neighbors")).sum
    assert(total % 2 === 0, s"asymmetric neighbor census: $total")
    assert(total > 0, "r=0.05 must find at least one pair")
    val ids = out.map(_.getAs[Long]("vec_id")).toSet
    out.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("nearest_id"))) {
        assert(ids(r.getAs[Long]("nearest_id")))
        assert(r.getAs[Long]("nearest_id") !== r.getAs[Long]("vec_id"),
          "self-pair must be excluded")
        assert(r.getAs[Double]("nearest_d2") <= 0.0025 + 1e-12)
      } else {
        assert(r.getAs[Long]("n_neighbors") === 0)
      }
    }
  }

  test("q_join_fuzzy resolves every probe; typo classes match as designed") {
    val out = graft.operators.JoinQueries.joinFuzzy(spark, sfDir).collect()
    val custs = Tables.customer(spark, sfDir).count()
    assert(out.length === custs,
      "every probe must resolve (its source record is always in-block)")
    out.foreach { r =>
      val (cls, bestId, dist) = (r.getAs[String]("typo_class"),
        r.getAs[Long]("best_id"), r.getAs[Int]("best_dist"))
      cls match {
        case "clean" =>
          // Exact self-match wins at distance 0.
          assert(dist === 0 && bestId === r.getAs[Long]("p_id"))
        case "replaced" =>
          // The replaced last char is distance 1 to every last-digit
          // sibling; the min-struct tiebreak picks the lowest id in
          // the probe's own 10-key family.
          assert(dist === 1 && bestId / 10 === r.getAs[Long]("p_id") / 10)
        case "dropped" =>
          // Genuine cross-key distance-1 ties (including the shorter
          // prefix key, e.g. "…12" matching both key 12 and 120–129):
          // the min-struct tiebreak must still land at distance 1.
          assert(dist === 1)
        case other => fail(s"unexpected typo class $other")
      }
      assert(r.getAs[Long]("n_candidates") >= 1)
    }
  }

  test("q_text_jsd matches a brute-force divergence replay, bounded") {
    val docs = Tables.documents(spark, sfDir)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val lt = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    for ((lang, text) <- docs; tok <- text.split(" ", -1))
      lt((lang, tok)) += 1
    val tt = lt.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val nl = lt.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val n = nl.values.sum
    val out = graft.operators.TextQueries.textJsd(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("n_tokens") == nl(lang))
      // Full-vocabulary replay WITHOUT the closed-form shortcut: walk
      // every corpus token, including those absent from the slice.
      val nr = (n - nl(lang)).toDouble
      var sum = 0.0
      for ((tok, t) <- tt) {
        val a = lt((lang, tok)); val b = t - a
        val p = a.toDouble / nl(lang); val q = b.toDouble / nr
        val m = (p + q) / 2.0
        if (a > 0) sum += p * math.log(p / m)
        if (b > 0) sum += q * math.log(q / m)
      }
      val jsd = r.getAs[Double]("jsd")
      assert(jsd >= 0 && jsd <= math.log(2.0) + 1e-9)
      assert(math.abs(jsd - sum / 2.0) < 1e-3,
        s"jsd of $lang: $jsd vs ${sum / 2.0}")
    }
  }

  test("q_graph_linkpred: the deg<=32 middle cut suppresses hub wedges") {
    // A planted 62-spoke star in 64 dims: center = e1, spokes
    // s_i = 0.63*e1 + 0.7766*e_{i+1}, so cos(center, spoke) = 0.63
    // (edge) while cos(spoke, spoke) = 0.63^2 = 0.3969 < 0.4 (no
    // edge). Every spoke pair's ONLY common neighbor is the center,
    // whose degree 62 exceeds the declared <=32 middle cut — a
    // cutless implementation would emit all C(62,2) = 1891 spoke
    // pairs; the declared operator must emit none of them. Two extra
    // low-degree wedges prove the pipeline still works off-hub.
    import org.apache.spark.sql.functions._
    val dim = 80
    val star = Seq.tabulate(63) { i =>
      val v = Array.fill(dim)(0.0f)
      if (i == 0) v(0) = 1.0f
      else { v(0) = 0.63f; v(i) = 0.7766f }
      (i.toLong, v.toSeq)
    }
    // An off-hub 3-path 100—101—102: cos(100,101) = 0.6,
    // cos(101,102) = 0.8, cos(100,102) = 0 — middle 101 has degree 2.
    val path = Seq(
      (100L, Array.tabulate(dim)(j =>
        if (j == 70) 1.0f else 0.0f).toSeq),
      (101L, Array.tabulate(dim)(j =>
        if (j == 70) 0.6f else if (j == 71) 0.8f else 0.0f).toSeq),
      (102L, Array.tabulate(dim)(j =>
        if (j == 71) 1.0f else 0.0f).toSeq))
    val spark2 = spark
    import spark2.implicits._
    val df = (star ++ path).map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    val dir = "/tmp/graft-linkpred-star"
    df.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.GraphQueries.graphLinkpred(spark, dir)
      .collect()
    val spokes = (1L to 62L).toSet
    assert(!out.exists(r =>
      spokes(r.getLong(0)) && spokes(r.getLong(1))),
      "spoke pairs reachable only through the >32-degree hub must be cut")
    // cos(100,101) = 0.6, cos(101,102) = 0.8, cos(100,102) = 0 — the
    // off-hub wedge survives: (100,102) via middle 101 (degree 2).
    assert(out.exists(r => r.getLong(0) == 100L && r.getLong(1) == 102L),
      "the low-degree wedge must still be emitted")
  }

  test("q_eval_kappa agrees with a confusion-matrix replay") {
    val cm = graft.operators.TextQueries.evalConfusion(spark, sfDir)
      .select("actual", "predicted", "n").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = cm.values.sum
    val agree = cm.collect { case ((a, p), c) if a == p => c }.sum
    val acts = cm.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val preds = cm.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    val peNum = (acts.keySet ++ preds.keySet).toSeq.map(k =>
      acts.getOrElse(k, 0L) * preds.getOrElse(k, 0L)).sum
    val r = graft.operators.TextQueries.evalKappa(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Long]("agree") == agree)
    val po = agree.toDouble / n
    val pe = peNum.toDouble / (n.toDouble * n)
    assert(math.abs(r.getAs[Double]("po") - po) < 1e-6)
    assert(math.abs(r.getAs[Double]("pe") - pe) < 1e-6)
    val kappa = r.getAs[Double]("kappa")
    assert(math.abs(kappa - (po - pe) / (1.0 - pe)) < 1e-5)
    assert(kappa <= 1.0 + 1e-9)
  }

  test("q_bpe_apply matches a serial merge replay; segments rebuild words") {
    val docs = Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val wf = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    for (t <- docs; w <- t.split(" ", -1) if w.nonEmpty) wf(w) += 1
    val census = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    for ((w, f) <- wf if w.length >= 2; i <- 0 until (w.length - 1))
      census(w.substring(i, i + 2)) += f
    val merges = census.toSeq.sortBy { case (p, n) => (-n, p) }.take(4)
      .map { case (p, _) => (p.substring(0, 1), p.substring(1, 2)) }
    def applyMerge(syms: List[String], a: String, b: String) = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var pending = syms.head
      for (x <- syms.tail) {
        if (pending == a && x == b) pending = pending + x
        else { out += pending; pending = x }
      }
      (out += pending).toList
    }
    def segment(w: String): List[String] =
      merges.foldLeft(w.map(_.toString).toList) {
        case (s2, (a, b)) => applyMerge(s2, a, b)
      }
    val out = graft.operators.TextQueries.bpeApply(spark, sfDir).collect()
    assert(out.length == wf.size)
    for (r <- out) {
      val w = r.getAs[String]("word")
      val seg = r.getAs[String]("seg")
      assert(seg.replace("|", "") == w,
        s"segments must rebuild '$w' (got '$seg')")
      assert(seg == segment(w).mkString("|"), s"segmentation of '$w'")
      assert(r.getAs[Long]("freq") == wf(w))
      assert(r.getAs[Long]("n_syms") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Double]("compression") >= 1.0)
    }
    // The merge table did real work on this fixture.
    assert(out.exists(r =>
      r.getAs[Long]("n_syms") < r.getAs[Long]("n_chars")),
      "at least one word must actually merge")
  }

  test("q_text_keyness matches a brute-force G2 replay") {
    val docs = Tables.documents(spark, sfDir)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val lt = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    for ((lang, text) <- docs; tok <- text.split(" ", -1))
      lt((lang, tok)) += 1
    val tt = lt.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val nl = lt.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val n = nl.values.sum
    def g2(lang: String, tok: String): Double = {
      val a = lt((lang, tok)); val t = tt(tok); val b = t - a
      val termA = a.toDouble *
        math.log((a * n).toDouble / (nl(lang) * t).toDouble)
      val termB = if (b > 0) b.toDouble *
        math.log((b * n).toDouble / ((n - nl(lang)) * t).toDouble)
        else 0.0
      2.0 * (termA + termB)
    }
    val expected = lt.keys.toSeq.filter(k => lt(k) >= 5)
      .groupBy(_._1).flatMap { case (lang, keys) =>
        keys.sortBy(k => (-g2(k._1, k._2), k._2)).take(5).zipWithIndex
          .map { case ((l, t), i) => (l, (i + 1).toLong) -> t }
      }
    val out = graft.operators.TextQueries.textKeyness(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val key = (r.getAs[String]("lang"), r.getAs[Long]("rank"))
      assert(expected(key) == r.getAs[String]("tok"), s"row $key")
      val gg = r.getAs[Double]("g2")
      assert(gg >= -1e-9, "two-term G2 over the token row is a KL, >= 0")
      assert(math.abs(gg - g2(key._1, r.getAs[String]("tok"))) < 1e-3)
      val a = r.getAs[Long]("n_lang"); val b = r.getAs[Long]("n_rest")
      val over = a * n > (a + b) * nl(key._1)
      assert(r.getAs[String]("direction") ==
        (if (over) "over" else "under"))
    }
    assert(out.length == expected.size)
  }

  test("q_dedup_simhash: hamming-band clustering end to end") {
    import spark.implicits._
    // graft_simhash64 itself is equivalence-pinned (VecExprSpec); this
    // plants documents at KNOWN signature distances and asserts the
    // QUERY's hamming-band grouping end to end: a mutated near-dup at
    // hamming 1..3 must pair with its original through the 4×16-bit
    // pigeonhole join, and an unrelated doc (hamming ≫ 3) must pair
    // with nothing. The near-dup is SELECTED by signature: candidate
    // variants mutate k seeded token positions and the first variant
    // landing in [1, 3] becomes the fixture — deterministic (fixed
    // seed), and verified below rather than assumed.
    val rng = new scala.util.Random(7)
    val baseToks = IndexedSeq.fill(200)("tok" + rng.nextInt(400))
    val posns = rng.shuffle(baseToks.indices.toList)
    val variants = (1 to 40).map { k =>
      val repl = posns.take(k).toSet
      (k, baseToks.zipWithIndex.map { case (t, i) =>
        if (repl(i)) s"mut${i}z" else t }.mkString(" "))
    }
    val unrelated = IndexedSeq.fill(200)("far" + rng.nextInt(400))
      .mkString(" ")
    val baseText = baseToks.mkString(" ")
    def sigs(texts: Seq[(Long, String)]): Map[Long, Long] =
      texts.toDF("id", "text")
        .select(col("id"), call_function("graft_simhash64",
          transform(split(col("text"), " "), t => xxhash64(t)))
          .as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vs = sigs((0L, baseText) +: (1000L, unrelated) +:
      variants.map { case (k, t) => (k.toLong, t) })
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val near = variants.find { case (k, _) =>
      val h = ham(vs(0L), vs(k.toLong)); h >= 1 && h <= 3 }
    assert(near.nonEmpty, "no mutation landed in hamming [1,3] — " +
      "fixture construction broke (tokenizer or hash changed?)")
    val (kSel, nearText) = near.get
    val hNear = ham(vs(0L), vs(kSel.toLong))
    assert(ham(vs(0L), vs(1000L)) > 3,
      "unrelated doc landed within the band — fixture invalid")
    val docs = Seq(
      (1L, baseText, "en", "s", baseText.length.toLong),
      (2L, nearText, "en", "s", nearText.length.toLong),
      (3L, unrelated, "en", "s", unrelated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("simhash")("documents" -> docs)
    val pairs = graft.operators.SimilarityQueries
      .dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, hNear.toLong)),
      s"expected exactly the planted pair at hamming $hNear, " +
        s"got ${pairs.mkString(", ")}")
  }

  test("q_sample_weighted: A-ES invariants — dense ranks, monotone key, " +
    "length-tilted sample") {
    val r = graft.operators.CurateQueries.sampleWeighted(spark, sfDir)
      .collect()
    assert(r.length === 100, "k=100 < 500 fixture docs — must fill")
    // rank is dense 1..k in output order, skey non-increasing along it
    assert(r.map(_.getAs[Long]("rank")).toSeq === (1L to 100L),
      "rank must be the dense 1..k output order")
    val keys = r.map(_.getAs[Double]("skey"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b },
      "skey must be non-increasing with rank (A-ES takes the LARGEST)")
    // the weighted draw must tilt toward long docs: sampled mean weight
    // strictly above the corpus mean (deterministic on the fixed draw)
    val corpusMean = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = r.map(_.getAs[Long]("weight")).sum / 100.0
    assert(sampleMean > corpusMean,
      s"length-weighted sample mean $sampleMean must exceed corpus " +
        s"mean $corpusMean — the weighting isn't biting")
  }

  test("q_mix_epochs: budget algebra — cap, deficit, and share identities") {
    val rows = graft.operators.CurateQueries.mixEpochs(spark, sfDir)
      .collect()
    assert(rows.length === 5, "five fixture languages")
    val tAll = rows.map(_.getAs[Long]("toks_l")).sum
    rows.foreach { r =>
      val toks = r.getAs[Long]("toks_l")
      val desired = r.getAs[Long]("desired_toks")
      val planned = r.getAs[Long]("planned_toks")
      val deficit = r.getAs[Long]("deficit_toks")
      val epochs = r.getAs[Double]("epochs")
      assert(planned === math.min(desired, 2 * toks),
        s"${r.getAs[String]("lang")}: planned must be min(desired, cap)")
      assert(deficit === math.max(desired - 2 * toks, 0L),
        s"${r.getAs[String]("lang")}: deficit must be the capped excess")
      assert(epochs <= 2.0 && epochs >= 0.0, "epoch cap is 2")
      // desired tracks 2T · share within the 4dp share rounding
      val share = r.getAs[Double]("share")
      assert(math.abs(desired - 2.0 * tAll * share) <= 1.0,
        s"desired must be round(2T · share): $desired vs ${2.0 * tAll * share}")
    }
    // the temperature shares sum to ~1 (4dp rounding × 5 langs)
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) <= 5e-4, s"shares sum $shareSum")
    // the fixture's lang skew makes the cap BIND somewhere (a
    // low-resource lang wants > 2 epochs) and NOT bind on en
    assert(rows.exists(_.getAs[Long]("deficit_toks") > 0),
      "no lang capped — the fixture skew should make the cap bind")
    assert(rows.filter(_.getAs[String]("lang") == "en")
      .forall(_.getAs[Long]("deficit_toks") === 0L),
      "en is the high-resource lang — the cap must not bind there")
  }

  test("q_text_hapax: planted bigram frequencies count exactly") {
    import spark.implicits._
    // srcA: "a b a b" → bigrams (a b),(b a),(a b): 2 types, hapax=(b a),
    // dis=(a b). srcB: "x y" → 1 type, 1 hapax. 1-token doc drops out.
    val docs = Seq(
      (1L, "a b a b", "en", "srcA", 7L),
      (2L, "x y", "en", "srcB", 3L),
      (3L, "z", "en", "srcC", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("hapax")("documents" -> docs)
    val r = graft.operators.TextQueries.textHapax(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5)))
    assert(r.toSeq === Seq(
      ("srcA", 2L, 1L, 1L, 3L, 0.5),
      ("srcB", 1L, 1L, 0L, 1L, 1.0)),
      s"got ${r.mkString("; ")}")
  }

  test("q_text_len_budget: overflow and token-loss arithmetic is exact") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(_ => "w").mkString(" ")
    val docs = Seq(
      (1L, mk(10), "en", "s", 19L),
      (2L, mk(70), "en", "s", 139L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = miniDir("lenbudget")("documents" -> docs)
    val r = graft.operators.TextQueries.textLenBudget(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("tokens") === 80L)
    assert(r.getAs[Long]("max_tokens") === 70L)
    assert(r.getAs[Long]("over_32") === 1L)
    assert(r.getAs[Long]("lost_32") === 38L, "70 − 32 tokens cut")
    assert(r.getAs[Long]("over_64") === 1L)
    assert(r.getAs[Long]("lost_64") === 6L, "70 − 64 tokens cut")
    assert(r.getAs[Double]("over_frac_64") === 0.5)
    assert(r.getAs[Double]("loss_frac_64") === 0.075, "6/80")
  }

  test("q_text_garbage: exactly the planted docs flag, clean docs are " +
    "all-zero") {
    val rows = graft.operators.TextQueries.textGarbage(spark, sfDir)
      .collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 13 == 0) {
        val run = 3 + (id % 4)
        assert(r.getAs[Boolean]("garbage"), s"planted doc $id must flag")
        assert(r.getAs[Long]("max_symbol_run") === run,
          s"doc $id: planted '#'-run is 3 + id%4 = $run")
        assert(r.getAs[Long]("symbol_cnt") === run,
          s"doc $id: the run is the only symbol content")
        assert(r.getAs[Long]("mixed_tokens") === 1L,
          s"doc $id: exactly the one planted mixed token")
      } else {
        assert(!r.getAs[Boolean]("garbage"), s"clean doc $id flagged")
        assert(r.getAs[Long]("symbol_cnt") === 0L &&
          r.getAs[Long]("max_symbol_run") === 0L &&
          r.getAs[Long]("mixed_tokens") === 0L,
          s"clean doc $id must read all-zero signals")
      }
    }
  }

  /** Brute-force rounded cosine over the collected fixture embeddings —
    * the in-order summation both engines use. */
  private def bruteCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("q_sample_negatives: label gate holds and matches the brute force") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val byId = vecs.map(v => v._1 -> v).toMap
    val rows = graft.operators.SimilarityQueries
      .sampleNegatives(spark, sfDir).collect()
    assert(rows.length === 20, "4 probes x top-5")
    rows.foreach { r =>
      val (pid, plab) = (r.getAs[Long]("probe_id"),
        r.getAs[Int]("probe_label"))
      assert(r.getAs[Int]("neg_label") !== plab,
        s"probe $pid returned a SAME-label vector — not a negative")
      assert(byId(r.getAs[Long]("vec_id"))._2 === r.getAs[Int]("neg_label"),
        "neg_label must be the fixture label of the returned vector")
    }
    // brute-force the expected top-5 per probe
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (pid, rs) =>
      val (_, plab, pv) = byId(pid)
      val expect = vecs.filter(_._2 != plab)
        .map { case (id, _, v) => (id, bruteCos(v, pv)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
      val got = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("vec_id"))
      assert(got.toSeq === expect,
        s"probe $pid: heap top-5 diverges from the brute force")
    }
  }

  test("q_ann_recall: per-probe recall equals the recomputed overlap") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val ivf = graft.operators.SimilarityQueries.annIvf(spark, sfDir)
      .collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val out = graft.operators.SimilarityQueries.annRecall(spark, sfDir)
      .collect()
    assert(out.map(_.getAs[Long]("probe_id")).toSeq === (0L to 4L),
      "one row per probe, probe set = vec_id < 5")
    out.foreach { r =>
      val pid = r.getAs[Long]("probe_id")
      val pv = vecs.find(_._1 == pid).get._3
      val exact = vecs.filter(_._1 != pid)
        .map { case (id, _, v) => (id, bruteCos(v, pv)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      assert(r.getAs[Long]("n_exact") === 5L)
      val hits = (exact intersect ivf(pid)).size.toLong
      assert(r.getAs[Long]("n_hit") === hits,
        s"probe $pid: hit count diverges from the recomputed overlap")
      assert(r.getAs[Double]("recall") === hits / 5.0,
        s"probe $pid: recall must be n_hit/5")
    }
  }

  test("q_shard_balance: zigzag assignment replayed exactly, mass " +
    "conserved") {
    val masses = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), size(split(col("text"), " ")).as("t"))
      .groupBy("source").agg(sum("t").as("toks"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("toks")))
    val expected = masses
      .sortBy { case (s, t) => (-t, s) }.zipWithIndex
      .map { case ((_, t), i) =>
        val pos = i % 16
        (if (pos < 8) pos.toLong else 15L - pos, t)
      }
      .groupBy(_._1)
      .map { case (sh, xs) => sh -> (xs.length.toLong, xs.map(_._2).sum) }
    val rows = graft.operators.CurateQueries.shardBalance(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[Long]("shard")).toSeq === (0L to 7L),
      "all 8 shards present, ordered")
    rows.foreach { r =>
      val sh = r.getAs[Long]("shard")
      val (n, t) = expected(sh)
      assert(r.getAs[Long]("n_sources") === n, s"shard $sh source count")
      assert(r.getAs[Long]("tokens") === t, s"shard $sh token mass")
    }
    assert(rows.map(_.getAs[Long]("tokens")).sum === masses.map(_._2).sum,
      "shard masses must conserve the corpus token total")
  }

  test("q_eval_mrr: first-relevant rank matches the brute-force ranking") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val out = graft.operators.SimilarityQueries.evalMrr(spark, sfDir)
      .collect()
    assert(out.length === 4, "one row per probe (every label populated)")
    out.foreach { r =>
      val pid = r.getAs[Long]("probe_id")
      val (_, plab, pv) = vecs.find(_._1 == pid).get
      val ranking = vecs.filter(_._1 != pid)
        .map { case (id, lab, v) => (id, lab, bruteCos(v, pv)) }
        .sortBy { case (id, _, c) => (-c, id) }
      val firstRel = ranking.indexWhere(_._2 == plab)
      assert(r.getAs[Long]("first_rank") === (firstRel + 1).toLong,
        s"probe $pid: rank diverges from the brute-force first hit")
      assert(r.getAs[Long]("best_vec") === ranking(firstRel)._1,
        s"probe $pid: best_vec diverges")
    }
  }

  test("q_text_instruct: exactly the planted docs flag with exact counts") {
    val rows = graft.operators.TextQueries.textInstruct(spark, sfDir)
      .collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 17 == 0) {
        assert(r.getAs[Boolean]("instruct"), s"planted doc $id must flag")
        assert(r.getAs[Long]("wh_lead") === 1L &&
          r.getAs[Long]("q_marks") === 1L &&
          r.getAs[Long]("step_markers") === 2L &&
          r.getAs[Long]("instruct_score") === 5L,
          s"doc $id: planted wrapper is 1 wh-lead + 1 '?' + 2 steps")
      } else {
        assert(!r.getAs[Boolean]("instruct"), s"prose doc $id flagged")
        assert(r.getAs[Long]("instruct_score") === 0L,
          s"prose doc $id must score zero")
      }
    }
  }

  /** The Spark-round twin: BigDecimal.valueOf + HALF_UP, what round(x,s)
    * computes on a double. */
  private def rnd(x: Double, s: Int): Double =
    BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q_eval_pass_at_k: nation means replay the exact falling-" +
    "factorial estimator") {
    def ff(x: Long, k: Int): Long = (0 until k).map(x - _).product
    def passK(n: Long, c: Long, k: Int): Option[Double] =
      if (n < k) None
      else if (n - c < k) Some(1.0)
      else Some(1.0 - ff(n - c, k).toDouble / ff(n, k).toDouble)
    val nat = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val perCust = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderstatus").collect()
      .groupBy(_.getLong(0))
      .map { case (ck, rs) =>
        (nat(ck), rs.length.toLong,
          rs.count(_.getString(1) == "F").toLong)
      }.toSeq
    val expected = perCust.groupBy(_._1).map { case (nk, xs) =>
      // A nation with zero k-eligible problems has a NULL mean (the
      // query's declared semantics) — never a NaN division here.
      def mean(k: Int): (Long, Option[Double]) = {
        val us = xs.flatMap { case (_, n, c) =>
          passK(n, c, k).map(p => rnd(p * 1000000, 0).toLong)
        }
        (us.length.toLong,
          if (us.isEmpty) None
          else Some(rnd(us.sum.toDouble / (us.length * 1000000.0), 6)))
      }
      val (e1, m1) = mean(1); val (e5, m5) = mean(5)
      val (e10, m10) = mean(10)
      nk -> (xs.length.toLong, e5, e10, m1, m5, m10)
    }
    val rows = graft.operators.FeatureQueries
      .evalPassAtK(spark, sfDir).collect()
    assert(rows.length === expected.size, "one row per nation")
    def checkMean(r: org.apache.spark.sql.Row, cname: String,
        exp: Option[Double], nk: Int): Unit = exp match {
      case Some(v) => assert(r.getAs[Double](cname) === v,
        s"nation $nk $cname")
      case None => assert(r.isNullAt(r.fieldIndex(cname)),
        s"nation $nk $cname must be NULL with zero eligible problems")
    }
    rows.foreach { r =>
      val nk = r.getAs[Int]("c_nationkey")
      val (np, e5, e10, m1, m5, m10) = expected(nk)
      assert(r.getAs[Long]("n_problems") === np, s"nation $nk problems")
      assert(r.getAs[Long]("elig_5") === e5, s"nation $nk elig_5")
      assert(r.getAs[Long]("elig_10") === e10, s"nation $nk elig_10")
      checkMean(r, "mean_pass1", m1, nk)
      checkMean(r, "mean_pass5", m5, nk)
      checkMean(r, "mean_pass10", m10, nk)
    }
  }

  test("q_eval_fleiss: kappa replays the variable-rater formula") {
    val cells = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_returnflag").collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
      .map { case ((ok, f), rs) => (ok, f, rs.length.toLong) }.toSeq
    val ni = cells.groupBy(_._1).map { case (ok, xs) =>
      ok -> xs.map(_._3).sum
    }
    val kept = cells.filter(c => ni(c._1) >= 2L)
    val items = kept.groupBy(_._1).map { case (ok, xs) =>
      val n = ni(ok)
      val agree = xs.map(c => c._3 * (c._3 - 1)).sum
      rnd(agree.toDouble * 1.0e9 / (n.toDouble * (n - 1).toDouble), 0)
        .toLong
    }
    val nItems = items.size.toLong
    // keys is a Set — mapping it through ni would COLLAPSE orders whose
    // rating counts coincide (Set.map dedups outputs); force a Seq.
    val nRatings = kept.groupBy(_._1).keys.toSeq.map(ni).sum
    val pUnits = items.sum
    val tt = kept.map(_._3).sum.toDouble
    val peUnits = kept.groupBy(_._2)
      .map { case (_, xs) =>
        val pj = xs.map(_._3).sum / tt
        rnd(pj * pj * 1.0e12, 0).toLong
      }.sum
    val pBar = pUnits.toDouble / (nItems * 1.0e9)
    val pE = peUnits.toDouble / 1.0e12
    val r = graft.operators.FeatureQueries.evalFleiss(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_items") === nItems)
    assert(r.getAs[Long]("n_ratings") === nRatings)
    assert(r.getAs[Double]("p_bar") === rnd(pBar, 6))
    assert(r.getAs[Double]("p_e") === rnd(pE, 6))
    assert(r.getAs[Double]("kappa") === rnd((pBar - pE) / (1.0 - pE), 6),
      "kappa must be the chance-corrected ratio of the unit sums")
  }

  test("q_dp_topk: the released ranking replays the md5-Gumbel draw") {
    val cnt = spark.read.parquet(s"$sfDir/part.parquet")
      .groupBy("p_brand").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val scored = cnt.map { case (b, n) =>
      val h = java.lang.Long.parseLong(md5Hex(b).take(8), 16)
      val u = (h.toDouble + 0.5) / 4294967296.0
      val g = -math.log(-math.log(u))
      (b, n, rnd(g, 4), rnd(n.toDouble + g, 4))
    }
    val top = scored.sortBy { case (b, _, _, ny) => (-ny, b) }.take(5)
    val rows = graft.operators.FeatureQueries.dpTopk(spark, sfDir)
      .collect()
    assert(rows.length === 5, "exactly five released rows")
    rows.zip(top).zipWithIndex.foreach {
      case ((r, (b, n, noise, noisy)), i) =>
        assert(r.getAs[Long]("rank") === i + 1L)
        assert(r.getAs[String]("p_brand") === b, s"rank ${i + 1} brand")
        assert(r.getAs[Long]("n") === n)
        assert(r.getAs[Double]("noise") === noise)
        assert(r.getAs[Double]("noisy") === noisy)
    }
  }

  test("q_contamination_embed: top-100 replays the brute-force " +
    "benchmark argmax") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val bench = vecs.filter(_._1 < 50)
    assert(bench.length === 50, "fixture must hold the full bench set")
    val best = vecs.filter(_._1 >= 50).map { case (vid, lbl, v) =>
      val (bid, cu) = bench.map { case (b, _, bv) =>
        (b, rnd(bruteCos(v, bv) * 10000, 0).toLong)
      }.maxBy { case (b, c) => (c, -b) }
      (vid, lbl, bid, cu)
    }
    val expected = best.sortBy { case (vid, _, _, cu) => (-cu, vid) }
      .take(100)
    val rows = graft.operators.SimilarityQueries
      .contaminationEmbed(spark, sfDir).collect()
    assert(rows.length === expected.length)
    rows.zip(expected).foreach {
      case (r, (vid, lbl, bid, cu)) =>
        assert(r.getAs[Long]("vec_id") === vid, "selection order")
        assert(r.getAs[Int]("label") === lbl)
        assert(r.getAs[Long]("best_bench") === bid,
          s"vec $vid argmax bench (smallest id on cos ties)")
        assert(r.getAs[Double]("max_cos") === rnd(cu / 10000.0, 4))
        assert(r.getAs[Long]("contam") === (if (cu >= 4000L) 1L else 0L))
    }
  }

  test("q_eval_bleu: the corpus score replays clipped precisions, " +
    "brevity penalty, and the geometric mean") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val pairs = docs.toSeq.flatMap { case (id, ct) =>
      docs.get(id + 1).map(rt => (ct, rt))
    }
    def grams(t: Array[String], n: Int): Seq[String] =
      if (t.length < n) Seq.empty
      else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" "))
    val m = Array.fill(5)(0L); val tt = Array.fill(5)(0L)
    pairs.foreach { case (ct, rt) =>
      (1 to 4).foreach { n =>
        val cg = grams(ct, n).groupBy(identity).map { case (g, xs) =>
          g -> xs.length.toLong
        }
        val rg = grams(rt, n).groupBy(identity).map { case (g, xs) =>
          g -> xs.length.toLong
        }
        m(n) += cg.map { case (g, c) =>
          math.min(c, rg.getOrElse(g, 0L))
        }.sum
        tt(n) += cg.values.sum
      }
    }
    val candTok = pairs.map(_._1.length.toLong).sum
    val refTok = pairs.map(_._2.length.toLong).sum
    val bp = if (candTok >= refTok) 1.0
      else math.exp(1.0 - refTok.toDouble / candTok.toDouble)
    val bleu = if ((1 to 4).forall(n => m(n) > 0))
      bp * math.exp((1 to 4).map(n =>
        math.log(m(n).toDouble / tt(n).toDouble)).sum / 4)
    else 0.0
    val r = graft.operators.TextQueries.evalBleu(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_pairs") === pairs.length.toLong)
    assert(r.getAs[Long]("cand_tokens") === candTok)
    assert(r.getAs[Long]("ref_tokens") === refTok)
    (1 to 4).foreach { n =>
      assert(r.getAs[Long](s"m$n") === m(n), s"clipped matches n=$n")
      assert(r.getAs[Double](s"p$n") ===
        rnd(m(n).toDouble / tt(n).toDouble, 6), s"precision n=$n")
    }
    assert(r.getAs[Double]("bp") === rnd(bp, 6))
    assert(r.getAs[Double]("bleu") === rnd(bleu, 6),
      "BLEU must be BP times the 4-gram geometric mean")
  }

  test("q_filter_waterfall: first-fail attribution and survivors " +
    "replay the declared gate order") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text", "n_chars").collect()
      .map(r => (r.getString(0).split(" ", -1), r.getLong(1)))
    val staged = docs.map { case (t, nc) =>
      val nt = t.length.toLong
      val nd = t.distinct.length.toLong
      val stop = t.count(x => x == "a" || x == "the").toLong
      val letters = nc - (nt - 1)
      val st =
        if (nt < 8) 1
        else if (nt > 50) 2
        else if (letters < 3 * nt || letters > 8 * nt) 3
        else if (stop * 50 < nt) 4
        else if (nd * 2 < nt) 5
        else 6
      (st, nt)
    }
    val byStage = staged.groupBy(_._1).map { case (st, xs) =>
      st -> (xs.length.toLong, xs.map(_._2).sum)
    }
    val total = staged.length.toLong
    val rows = graft.operators.CurateQueries
      .filterWaterfall(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("stage")).toSeq ===
      byStage.keys.toSeq.sorted.map(_.toLong), "stages present, ordered")
    var killed = 0L
    rows.foreach { r =>
      val st = r.getAs[Long]("stage").toInt
      val (n, tok) = byStage(st)
      if (st <= 5) killed += n
      assert(r.getAs[Long]("n_docs") === n, s"stage $st kill count")
      assert(r.getAs[Long]("tokens") === tok, s"stage $st token mass")
      assert(r.getAs[Double]("frac") === rnd(n.toDouble / total, 4))
      assert(r.getAs[Long]("n_after") === total - killed,
        s"stage $st survivors must be total minus cumulative kills")
    }
    assert(rows.exists(_.getAs[String]("verdict") == "keep"),
      "the fixture must keep something — a kill-everything rule stack " +
        "tests nothing")
  }

  test("q_mix_dro: weights replay the quantized excess-loss recipe") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val perLang = docs.groupBy(_._1).map { case (l, xs) =>
      val nt = xs.map(_._2.length.toLong).sum
      val dru = xs.map { case (_, t) =>
        rnd(1.0e6 * t.distinct.length.toDouble / t.length, 0).toLong
      }.sum
      l -> (xs.length.toLong, nt, dru)
    }
    val tAll = perLang.values.map(_._2).sum.toDouble
    val blUnits = perLang.map { case (_, (n, tok, dru)) =>
      rnd((tok / tAll) * (dru.toDouble / (n * 1.0e6)) * 1.0e9, 0).toLong
    }.sum
    val lBar = blUnits.toDouble / 1.0e9
    val wUnits = perLang.map { case (l, (n, tok, dru)) =>
      val excess = dru.toDouble / (n * 1.0e6) - lBar
      l -> rnd((tok / tAll) * math.exp(4.0 * excess) * 1.0e9, 0).toLong
    }
    val wSum = wUnits.values.sum.toDouble
    val rows = graft.operators.CurateQueries.mixDro(spark, sfDir)
      .collect()
    assert(rows.length === perLang.size, "one row per language")
    rows.foreach { r =>
      val l = r.getAs[String]("lang")
      val (n, tok, dru) = perLang(l)
      val loss = dru.toDouble / (n * 1.0e6)
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("tokens") === tok)
      assert(r.getAs[Double]("base_share") === rnd(tok / tAll, 4))
      assert(r.getAs[Double]("loss") === rnd(loss, 6))
      assert(r.getAs[Double]("excess") === rnd(loss - lBar, 6))
      assert(r.getAs[Double]("weight") === rnd(wUnits(l) / wSum, 4),
        s"lang $l: weight must be the normalized quantized b·e^(4x)")
    }
    val wTot = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wTot - 1.0) < 1e-3,
      "weights must normalize to ~1 (4dp rounding slack)")
  }

  test("q_dedup_sweep: per-threshold counts replay the brute-force " +
    "pair scan") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val pairs = for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      c = bruteCos(vecs(i)._2, vecs(j)._2) if c >= 0.4
    } yield (vecs(i)._1, vecs(j)._1, c)
    val rows = graft.operators.SimilarityQueries.dedupSweep(spark, sfDir)
      .collect()
    // Round-13 contract (ADVICE fix): EVERY declared threshold appears,
    // zero-retention ones with explicit zeros — a reader must be able
    // to tell "this cut keeps nothing" from "this cut was not run".
    assert(rows.map(_.getAs[Double]("threshold")).toSeq ===
      (4 to 9).map(_ / 10.0),
      "one row per declared threshold, zero-pair cuts included")
    rows.foreach { r =>
      val t = r.getAs[Double]("threshold")
      val keep = pairs.filter(_._3 >= t)
      val docs = keep.flatMap(p => Seq(p._1, p._2)).distinct.length
      assert(r.getAs[Long]("n_pairs") === keep.length.toLong,
        s"threshold $t pair count")
      assert(r.getAs[Long]("n_docs_affected") === docs.toLong,
        s"threshold $t affected docs")
      assert(r.getAs[Double]("affected_frac") ===
        rnd(docs.toDouble / vecs.length, 4))
    }
    assert(rows.map(_.getAs[Long]("n_pairs")).toSeq ===
      rows.map(_.getAs[Long]("n_pairs")).toSeq.sorted.reverse,
      "pair counts must be monotone non-increasing in the threshold")
  }

  test("q_eval_bradley_terry: strengths replay the 5-round quantized " +
    "MM iteration") {
    val brand = spark.read.parquet(s"$sfDir/part.parquet")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey",
        "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getInt(1), brand(r.getLong(2)),
        rnd(r.getDouble(3) * 100, 0).toLong))
    val nij = scala.collection.mutable.Map[(String, String), Long]()
    li.groupBy(_._1).values.foreach { xs =>
      val s = xs.sortBy(_._2)
      for (i <- s.indices; j <- (i + 1) until s.length) {
        val (a, b) = (s(i), s(j))
        // Equal-linenumber pairs are EXCLUDED by the query's declared
        // ln_a < ln_b rule (the synthetic fixture repeats linenumbers
        // within an order — such "simultaneous" comparisons have no
        // order to tie-break on, so the operator drops them; 1684 of
        // them exist at sf0.001, which is why this replay must too).
        if (a._2 != b._2 && a._3 != b._3) {
          val aWins = a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
          val k = if (aWins) (a._3, b._3) else (b._3, a._3)
          nij(k) = nij.getOrElse(k, 0L) + 1
        }
      }
    }
    val games = scala.collection.mutable.Map[(String, String), Long]()
    nij.foreach { case ((i, j), n) =>
      games((i, j)) = games.getOrElse((i, j), 0L) + n
      games((j, i)) = games.getOrElse((j, i), 0L) + n
    }
    val brands = games.keys.map(_._1).toSeq.distinct.sorted
    val wins = brands.map(b =>
      b -> nij.filter(_._1._1 == b).values.sum).toMap
    var s = brands.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      val den = brands.map { b =>
        b -> games.collect { case ((i, j), g) if i == b =>
          rnd(g.toDouble / (s(i) + s(j)) * 1.0e9, 0).toLong
        }.sum
      }.toMap
      val su = brands.map { b =>
        b -> rnd((wins(b).toDouble * 1.0e9 / den(b).toDouble) * 1.0e9, 0)
          .toLong
      }.toMap
      val tot = su.values.sum.toDouble
      s = brands.map(b => b -> rnd(su(b) / tot, 9)).toMap
    }
    val expected = brands.sortBy(b => (-s(b), b))
    val rows = graft.operators.FeatureQueries
      .evalBradleyTerry(spark, sfDir).collect()
    assert(rows.length === brands.length, "one row per compared brand")
    rows.zip(expected).zipWithIndex.foreach { case ((r, b), i) =>
      assert(r.getAs[Long]("rank") === i + 1L)
      assert(r.getAs[String]("brand") === b, s"rank ${i + 1} brand")
      assert(r.getAs[Long]("wins") === wins(b), s"$b wins")
      assert(r.getAs[Long]("games") ===
        games.collect { case ((x, _), g) if x == b => g }.sum, s"$b games")
      assert(r.getAs[Double]("strength") === rnd(s(b), 6), s"$b strength")
    }
    val sTot = rows.map(_.getAs[Double]("strength")).sum
    assert(math.abs(sTot - 1.0) < 1e-4,
      "normalized strengths must sum to ~1")
  }

  test("q_split_leakage: pair counts replay the norm-text split masks") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.replaceAll(" +", " ").trim))
    def split(id: Long): Int = md5Hex(id.toString).head match {
      case 'c' | 'd' => 1
      case 'e' | 'f' => 2
      case _ => 0
    }
    val byNorm = docs.groupBy(_._2).values.map { xs =>
      val sp = xs.map(d => split(d._1))
      (sp.count(_ == 0).toLong, sp.count(_ == 1).toLong,
        sp.count(_ == 2).toLong)
    }.toSeq
    def pair(a: (Long, Long, Long) => Long, b: (Long, Long, Long) => Long)
        : (Long, Long) = {
      val hit = byNorm.filter(x => a.tupled(x) > 0 && b.tupled(x) > 0)
      (hit.length.toLong, hit.map(x => x._1 + x._2 + x._3).sum)
    }
    val (tvG, tvD) = pair((t, _, _) => t, (_, v, _) => v)
    val (ttG, ttD) = pair((t, _, _) => t, (_, _, s) => s)
    val (vtG, vtD) = pair((_, v, _) => v, (_, _, s) => s)
    val rows = graft.operators.CurateQueries.splitLeakage(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[String]("pair")).toSeq ===
      Seq("train_test", "train_val", "val_test"), "ordered pair rows")
    val m = rows.map(r => r.getAs[String]("pair") ->
      (r.getAs[Long]("n_shared_groups"),
        r.getAs[Long]("n_docs_in_shared"))).toMap
    assert(m("train_val") === ((tvG, tvD)), "train/val leakage")
    assert(m("train_test") === ((ttG, ttD)), "train/test leakage")
    assert(m("val_test") === ((vtG, vtD)), "val/test leakage")
  }

  test("q_sample_balanced: derived rates and kept counts replay the " +
    "md5 thinning") {
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val cls = labels.groupBy(_._2).map { case (l, xs) =>
      l -> xs.length.toLong
    }
    val nMin = cls.values.min
    val expected = labels.groupBy(_._2).map { case (l, xs) =>
      val rate = nMin.toDouble / cls(l)
      val kept = xs.count { case (id, _) =>
        val h = java.lang.Long.parseLong(md5Hex(id.toString).take(8), 16)
        (h.toDouble + 0.5) / 4294967296.0 < rate
      }.toLong
      l -> kept
    }
    val rows = graft.operators.StatsQueries.sampleBalanced(spark, sfDir)
      .collect()
    assert(rows.length === cls.size, "one row per label")
    rows.foreach { r =>
      val l = r.getAs[Int]("label")
      assert(r.getAs[Long]("n_class") === cls(l), s"label $l size")
      assert(r.getAs[Double]("keep_rate") ===
        rnd(nMin.toDouble / cls(l), 6))
      assert(r.getAs[Long]("n_kept") === expected(l), s"label $l kept")
      assert(r.getAs[Double]("realized_rate") ===
        rnd(expected(l).toDouble / cls(l), 6))
    }
    // The minority class keeps everything (rate 1.0 ⇒ u < 1.0 always).
    val minLabel = cls.minBy(_._2)._1
    val minRow = rows.find(_.getAs[Int]("label") == minLabel).get
    assert(minRow.getAs[Long]("n_kept") === nMin,
      "the minority class must survive intact")
  }

  test("q_graph_assortativity: r replays the exact degree-moment " +
    "formula") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val und = for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      if bruteCos(vecs(i)._2, vecs(j)._2) >= 0.4
    } yield (vecs(i)._1, vecs(j)._1)
    val dir = und ++ und.map { case (a, b) => (b, a) }
    val deg = dir.groupBy(_._1).map { case (v, xs) =>
      v -> xs.length.toLong
    }
    val xy = dir.map { case (a, b) => (deg(a), deg(b)) }
    val mm = xy.length.toLong
    val sx = xy.map(_._1).sum
    val sxy = xy.map { case (x, y) => x * y }.sum
    val sxx = xy.map(x => x._1 * x._1).sum
    val meanX = sx.toDouble / mm
    val den = sxx.toDouble / mm - meanX * meanX
    val num = sxy.toDouble / mm - meanX * meanX
    val r = graft.operators.GraphQueries
      .graphAssortativity(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_nodes") === deg.size.toLong)
    assert(r.getAs[Long]("n_edges") === und.length.toLong)
    assert(r.getAs[Double]("mean_end_deg") === rnd(meanX, 6))
    if (den == 0.0)
      assert(r.isNullAt(r.fieldIndex("assortativity")),
        "a regular graph has no degree variance to correlate")
    else
      assert(r.getAs[Double]("assortativity") === rnd(num / den, 6),
        "assortativity must be the exact-moment Pearson r")
  }

  test("q_sample_replicate: copy counts replay the stochastic " +
    "rounding and hit the planned mass in expectation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong))
    val toks = docs.groupBy(_._2).map { case (l, xs) =>
      l -> xs.map(_._3).sum
    }
    val tAll = toks.values.sum.toDouble
    val sRoot = toks.values.map(t => math.sqrt(t.toDouble)).sum
    val epochs = toks.map { case (l, t) =>
      val desired = rnd(2.0 * tAll * rnd(math.sqrt(t.toDouble) / sRoot,
        4), 0)
      l -> rnd(math.min(desired / t.toDouble, 2.0), 4)
    }
    val rows = graft.operators.CurateQueries
      .sampleReplicate(spark, sfDir).collect()
    assert(rows.length === docs.length, "one row per document")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (_, l, nt) = docs.find(_._1 == id).get
      val e = epochs(l)
      val h = java.lang.Long.parseLong(md5Hex(id.toString).take(8), 16)
      val u = (h.toDouble + 0.5) / 4294967296.0
      val exp = math.floor(e).toLong +
        (if (u < e - math.floor(e)) 1L else 0L)
      assert(r.getAs[Double]("epochs") === e, s"doc $id epochs")
      assert(r.getAs[Long]("n_copies") === exp, s"doc $id copies")
      assert(r.getAs[Long]("tokens_out") === exp * nt, s"doc $id mass")
    }
    // Unbiasedness at the corpus grain: realized mass within 10 % of
    // the fractional plan (md5 draws are uniform enough at 500 docs).
    val planned = docs.map { case (_, l, nt) => epochs(l) * nt }.sum
    val realized = rows.map(_.getAs[Long]("tokens_out")).sum.toDouble
    assert(math.abs(realized - planned) / planned < 0.10,
      s"realized mass $realized vs planned $planned drifted >10%")
  }

  test("q_eval_rbo: overlaps and the truncated RBO replay the " +
    "two-list brute force") {
    val la = graft.operators.TextQueries.textBm25(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy { case (id, sc) => (-sc, id) }.take(10).map(_._1)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val pv = vecs.find(_._1 == 0L).get._2
    val lb = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, bruteCos(v, pv)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val ra = la.zipWithIndex.toMap
    val rb = lb.zipWithIndex.toMap
    val ms = la.toSet.intersect(lb.toSet).toSeq
      .map(id => math.max(ra(id), rb(id)) + 1)
    val weights = (1 to 10).map(d => BigDecimal("0.9").pow(d - 1))
    var cum = 0L
    val rows = graft.operators.SimilarityQueries.evalRbo(spark, sfDir)
      .collect()
    assert(rows.length === 10, "one row per depth 1..10")
    rows.zipWithIndex.foreach { case (r, i) =>
      val d = i + 1
      val ov = ms.count(_ <= d).toLong
      assert(r.getAs[Long]("depth") === d.toLong)
      assert(r.getAs[Long]("n_overlap") === ov, s"depth $d overlap")
      assert(r.getAs[Double]("agreement") === rnd(ov.toDouble / d, 6))
      assert(r.getAs[Double]("weight") === weights(i).toDouble)
      cum += rnd((weights(i).toDouble * ov.toDouble / d) * 1.0e9, 0)
        .toLong
      assert(r.getAs[Double]("rbo_cum") === rnd(0.1 * cum / 1.0e9, 6),
        s"depth $d cumulative RBO")
    }
    // Both lists hold 10 items, so overlap at depth 10 is the true
    // intersection size and RBO is bounded by the final agreement.
    assert(rows.last.getAs[Long]("n_overlap") === ms.length.toLong)
  }

  test("q_eval_cluster_purity: purity and NMI replay the octant " +
    "contingency") {
    val pts = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map { r =>
        val e = r.getAs[scala.collection.Seq[Float]]("embedding")
        val c = (if (e(0) > 0) 4 else 0) + (if (e(1) > 0) 2 else 0) +
          (if (e(2) > 0) 1 else 0)
        (c.toLong, r.getAs[Int]("label"))
      }
    val cont = pts.groupBy(identity).map { case (k, xs) =>
      k -> xs.length.toLong
    }
    val nn = pts.length.toDouble
    val nC = cont.groupBy(_._1._1).map { case (c, xs) =>
      c -> xs.values.sum
    }
    val nJ = cont.groupBy(_._1._2).map { case (l, xs) =>
      l -> xs.values.sum
    }
    val miUnits = cont.map { case ((c, l), n) =>
      rnd((n / nn) * math.log(nn * n / (nC(c).toDouble * nJ(l))) * 1.0e9,
        0).toLong
    }.sum
    def entU(m: Map[_, Long]) = m.values.map(v =>
      rnd(-(v / nn) * math.log(v / nn) * 1.0e9, 0).toLong).sum
    val (hcU, hlU) = (entU(nC.toMap), entU(nJ.toMap))
    val majPer = cont.groupBy(_._1._1).map { case (c, xs) =>
      val (lbl, n) = xs.map { case ((_, l), n) => (l, n) }.toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      c -> (lbl, n)
    }
    val purity = rnd(majPer.values.map(_._2).sum / nn, 6)
    val nmi =
      if (hcU == 0L || hlU == 0L) None
      else Some(rnd((miUnits / 1.0e9) /
        math.sqrt((hcU / 1.0e9) * (hlU / 1.0e9)), 6))
    val rows = graft.operators.SimilarityQueries
      .evalClusterPurity(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("cluster")).toSeq ===
      nC.keys.toSeq.sorted, "one row per populated octant, ordered")
    rows.foreach { r =>
      val c = r.getAs[Long]("cluster")
      val (lbl, nMaj) = majPer(c)
      assert(r.getAs[Long]("n") === nC(c), s"cluster $c size")
      assert(r.getAs[Int]("maj_label") === lbl, s"cluster $c majority")
      assert(r.getAs[Long]("n_major") === nMaj)
      assert(r.getAs[Double]("maj_share") ===
        rnd(nMaj.toDouble / nC(c), 6))
      assert(r.getAs[Double]("purity") === purity)
      nmi match {
        case Some(v) => assert(r.getAs[Double]("nmi") === v,
          s"cluster $c NMI")
        case None => assert(r.isNullAt(r.fieldIndex("nmi")),
          "zero-entropy corpus must declare NMI NULL")
      }
    }
  }

  test("q_eval_perplexity: per-lang ppl replays the held-out add-1 " +
    "bigram model") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1)))
    def nib(id: Long) = md5Hex(id.toString).head
    val train = docs.filter(d => !"cdef".contains(nib(d._1)))
    val test = docs.filter(d => "ef".contains(nib(d._1)))
    def bigrams(t: Array[String]) =
      if (t.length < 2) Seq.empty
      else (0 until t.length - 1).map(i => (t(i), t(i + 1)))
    val cbg = train.flatMap { case (_, l, t) =>
      bigrams(t).map(b => (l, b))
    }.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val cu = train.flatMap { case (_, l, t) => t.map(w => (l, w)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val vs = train.flatMap { case (_, l, t) => t.map(w => (l, w)) }
      .distinct.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
    val expected = test.flatMap { case (_, l, t) =>
      bigrams(t).map { case (w1, w2) =>
        val p = (cbg.getOrElse((l, (w1, w2)), 0L) + 1).toDouble /
          (cu.getOrElse((l, w1), 0L) + vs(l)).toDouble
        (l, rnd(math.log(p) * 1.0e6, 0).toLong)
      }
    }.groupBy(_._1).map { case (l, xs) =>
      val n = xs.length.toLong
      val nll = -xs.map(_._2).sum.toDouble / (n * 1.0e6)
      l -> (n, rnd(nll, 6), rnd(math.exp(nll), 4))
    }
    val rows = graft.operators.TextQueries.evalPerplexity(spark, sfDir)
      .collect()
    assert(rows.length === expected.size,
      "one row per language with test bigrams")
    rows.foreach { r =>
      val l = r.getAs[String]("lang")
      val (n, nll, ppl) = expected(l)
      assert(r.getAs[Long]("n_bigrams") === n, s"lang $l bigram count")
      assert(r.getAs[Double]("avg_nll") === nll, s"lang $l NLL")
      assert(r.getAs[Double]("ppl") === ppl, s"lang $l perplexity")
      assert(ppl >= 1.0, "perplexity is bounded below by 1")
    }
  }

  test("q_text_burstiness: VMR replays the zero-folded moment algebra") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toLong
    val perDoc = docs.map { case (_, t) =>
      t.split(" ", -1).filter(_.nonEmpty).groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
    }
    val stats = perDoc.flatMap(_.keys).distinct.map { t =>
      val xs = perDoc.flatMap(_.get(t))
      (t, xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val top = stats.sortBy { case (t, df, _, _) => (-df, t) }.take(20)
    val out = graft.operators.TextQueries.textBurstiness(spark, sfDir)
      .collect()
    assert(out.length === top.length)
    out.zip(top).foreach { case (r, (t, df, cf, sq)) =>
      assert(r.getAs[String]("term") === t, "top-df order")
      assert(r.getAs[Long]("df") === df, s"term $t df")
      assert(r.getAs[Long]("cf") === cf, s"term $t cf")
      // Zero-count docs folded algebraically: VMR = (n·Σx² − cf²)/(n·cf).
      val vmr = rnd((n * sq - cf * cf).toDouble / (n * cf).toDouble, 6)
      assert(r.getAs[Double]("vmr") === vmr, s"term $t vmr")
      // Dispersion floor: with any doc missing the term, variance > 0.
      if (df < n) assert(r.getAs[Double]("vmr") > 0.0)
    }
  }

  test("q_vocab_growth: curve replays first-occurrence counting") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val nd = docs.map(_._1).max + 1
    def bucket(id: Long) = id * 10 / nd
    val toks = docs.flatMap { case (id, t) =>
      t.split(" ", -1).filter(_.nonEmpty).map(id -> _)
    }
    val tokPerB = toks.groupBy(x => bucket(x._1))
      .map { case (b, xs) => b -> xs.length.toLong }
    val newPerB = toks.groupBy(_._2).toSeq
      .map { case (_, xs) => bucket(xs.map(_._1).min) }
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val out = graft.operators.TextQueries.vocabGrowth(spark, sfDir)
      .collect()
    assert(out.map(_.getAs[Long]("bucket")).toSeq ===
      tokPerB.keys.toSeq.sorted, "one row per non-empty slice, ordered")
    var cumT = 0L
    var cumV = 0L
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("n_tokens") === tokPerB(b), s"slice $b tokens")
      assert(r.getAs[Long]("n_new_types") === newPerB.getOrElse(b, 0L),
        s"slice $b new types")
      cumT += tokPerB(b)
      cumV += newPerB.getOrElse(b, 0L)
      assert(r.getAs[Long]("cum_tokens") === cumT, s"slice $b cum tokens")
      assert(r.getAs[Long]("cum_types") === cumV, s"slice $b cum types")
      assert(r.getAs[Double]("ttr") ===
        rnd(cumV.toDouble / cumT.toDouble, 6), s"slice $b ttr")
    }
    // The curve ends at the whole-corpus truth.
    assert(cumV === toks.map(_._2).distinct.length.toLong)
    assert(cumT === toks.length.toLong)
  }
}
