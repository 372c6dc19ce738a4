package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Distributed global ranking (SURVEY §2.5/§2.6): the two-phase rank
  * that replaces single-partition `ORDER BY`-the-world windows.
  *
  * An unpartitioned window (`ntile`/`row_number` with no PARTITION BY)
  * requires `AllTuples` — Spark moves EVERY row to one task and sorts
  * there. Fine on a dimension-sized frame; a serial bottleneck the
  * moment the input scales with the corpus (the round-7 verdict's three
  * `ntile` flags). The classic distributed fix, as used by every
  * external-sort engine:
  *
  *   1. range-repartition on the rank order (each partition holds a
  *      contiguous key range, partitions ordered by id) and sort WITHIN
  *      partitions — an all-to-all exchange, but P parallel sorts of
  *      n/P rows instead of one sort of n;
  *   2. census the per-partition row counts (≤ `parts` × |keys| rows —
  *      bounded by config and key domain, not by data) and prefix-sum
  *      them into per-partition rank offsets;
  *   3. attach the offsets back: global rank = partition offset +
  *      local position + 1.
  *
  * Local positions ride `monotonically_increasing_id`'s bit layout
  * (partition id in the upper 31 bits, intra-partition record index in
  * the lower 33) — assigned ABOVE the within-partition sort, and the
  * expression's nondeterminism marker keeps Catalyst from reordering it
  * below. The result is exactly the rank the single-partition window
  * would emit whenever the ordering is a TOTAL order (callers pass a
  * unique tiebreak key — same contract the oracle SQL declares), so
  * DuckDB twins keep their plain `ntile()/row_number()` and still
  * hash-match: the two-phase plan changes the execution shape, not one
  * output value.
  *
  * CENSUS ON THE DRIVER (round 12): step 2 is ONE bounded aggregation
  * `collect()`ed and prefix-summed in driver code, then re-attached as
  * an array literal (global) or a broadcast LocalRelation (keyed) —
  * replacing round 11's agg → unpartitioned-window → broadcast-build
  * chain, which cost 2-3 extra AQE stage jobs (+their planning gaps,
  * ~0.1-0.3 s of fixed local overhead per call: the round-11 verdict's
  * task 1). The collect is NOT a corpus-scaled driver hop: the census
  * has at most `spark.sql.shuffle.partitions` × |key domain| rows
  * whatever the data size — the same driver-side order as the
  * RangePartitioner boundary sample every range exchange already
  * collects. PRECONDITION (keyed forms): the key domain must be
  * config/domain-bounded (priority bands, languages, source tags) —
  * a corpus-scaled key would grow both this census and the offsets
  * broadcast, the exact class the round-11 growth sweeps closed; such
  * a caller belongs on a plain keyed aggregation instead. */
object RankOps {

  /** `a div b` for non-negative longs as a Catalyst `IntegralDivide` —
    * exact integer division (a Column-API `/` would detour through
    * IEEE doubles). */
  private[operators] def idiv(a: Column, b: Column): Column =
    call_function("div", a.cast("long"), b.cast("long"))

  /** Shared phase-1 prologue of every two-phase operator here: fail
    * fast on working-column collisions, range-repartition on the total
    * order, sort within partitions, stamp `__g_mid`
    * (`monotonically_increasing_id`: partition id in the upper 31 bits,
    * intra-partition record index in the lower 33 — assigned ABOVE the
    * within-partition sort; the expression's nondeterminism marker
    * keeps Catalyst from reordering it below), and materialize ONCE.
    *
    * The localCheckpoint is load-bearing, not a cache hint: the census
    * and the main path must observe the SAME partitioning and the same
    * mid assignment. Left lazy, the two consumers are separately
    * column-pruned subtrees whose range exchanges no longer
    * canonicalize equal — no reuse, two independent boundary samplings
    * (RangePartitioner seeds by RDD id), and the offsets of one
    * partitioning get applied to the other's partition ids (measured:
    * 648/15000 wrong quartiles under Verify's coalesce(1) write).
    *
    * Returns the materialized frame plus the (pid, localIdx) column
    * pair derived from `__g_mid`. (private[operators] since round 14:
    * WindowQueries' fused ntile-range pass builds its dual census on
    * this same prologue.) */
  private[operators] def rangeSortedWithMid(df: DataFrame, caller: String,
      outCols: Seq[String], sortCols: Seq[Column])
      : (DataFrame, Column, Column) = {
    val taken = Seq("__g_mid", "__g_pid", "__g_off", "__g_min",
      "__g_run", "__g_l") ++ outCols
    val clash = df.columns.intersect(taken)
    require(clash.isEmpty && outCols.distinct.size == outCols.size,
      s"$caller: column name collision on ${clash.mkString(",")} " +
        s"(input may not contain ${taken.mkString("/")}, and output " +
        "column names must be distinct)")
    // No explicit partition count (round 12): with the count pinned to
    // spark.sql.shuffle.partitions, AQE must keep every range partition
    // even when the frame is small — 32 near-empty sort tasks of fixed
    // scheduling cost per call locally. Left to AQE, the range exchange
    // coalesces CONTIGUOUS partitions toward the advisory partition
    // size — fewer tasks on a dimension-sized frame, ~64 MB-targeted
    // partitions on a corpus-scaled one — and contiguity preserves the
    // invariant the offsets depend on: ascending partition id remains
    // ascending key range.
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__g_mid", monotonically_increasing_id())
      .transform(Materialize("rangeSortedWithMid.sorted"))
    (sorted, shiftright(col("__g_mid"), 33),
      col("__g_mid").bitwiseAND(lit((1L << 33) - 1)))
  }

  /** Appends `rankCol` (1-based global rank under `order`, which MUST
    * be a total order) and `totalCol` (the global row count) via the
    * two-phase rank above. One range exchange over the data plus one
    * bounded census collect; no join, no single-partition stage — the
    * offsets come back as a ≤-`parts`-element array literal and the
    * rank is a pure projection over the checkpointed frame. */
  def withGlobalRank(df: DataFrame, rankCol: String, totalCol: String,
      order: Column*): DataFrame = {
    val (sorted, pid, localIdx) = rangeSortedWithMid(df,
      "withGlobalRank", Seq(rankCol, totalCol), order)
    // Driver census: per-partition row counts — ≤ `parts` rows by
    // construction (bounded by config, not data; see the object
    // scaladoc for why this driver hop is in bounds at any scale).
    val counts = sorted.groupBy(pid.as("__g_pid"))
      .agg(count(lit(1)).as("__g_cnt")).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1)))
    val total = counts.iterator.map(_._2).sum
    val nParts = counts.iterator.map(_._1 + 1).foldLeft(0)(_ max _)
    val offs = new Array[Long](nParts.max(1))
    counts.foreach { case (p, c) => offs(p) = c }
    // In-place exclusive prefix sum: offset(pid) counts exactly the
    // rows ordered strictly before this partition (range partitions
    // are assigned ascending key ranges in ascending partition-id
    // order).
    var acc = 0L
    var p = 0
    while (p < offs.length) { val c = offs(p); offs(p) = acc; acc += c
      p += 1 }
    sorted
      .withColumn(rankCol, localIdx
        + element_at(typedlit(offs.toSeq), (pid + lit(1L)).cast("int"))
        + lit(1L))
      .withColumn(totalCol, lit(total))
      .drop("__g_mid")
  }

  /** Two-phase rank WITHIN each value of a small key column — N
    * independent global rankings for the price of ONE range exchange +
    * ONE checkpoint + ONE census collect (q_search_rrf's round-10
    * trim: its two corpus-scaled rank lists each paid the full
    * [[withGlobalRank]] materialization; unioned under a `src` tag they
    * pay it once).
    *
    * Identical phase structure: range-repartition on (key, order…) —
    * each partition holds a contiguous slice of the composite order, so
    * a key's rows span a contiguous partition run — then a per-
    * (partition, key) count/min-local-index census (≤ parts × |keys|
    * rows — the BOUNDED KEY DOMAIN precondition in the object scaladoc
    * is load-bearing here), per-key prefix-sum offsets computed on the
    * driver, broadcast back as a LocalRelation (no growing input can
    * ever reach this hint: the relation's row count is config × domain
    * by construction). Rank of a row = rows of its key strictly before
    * its partition + its position within the key's run inside the
    * partition. Equals the per-key window `row_number` whenever
    * (order…) is a total order within each key — PropertySpec pins the
    * law. */
  def withKeyedRank(df: DataFrame, keyCol: String, rankCol: String,
      order: Column*): DataFrame =
    keyedRankImpl("withKeyedRank", df, keyCol, rankCol, None, order)

  /** [[withKeyedRank]] plus `totalCol` (the key's total row count) —
    * free from the same census (q_rfm's round-12 single-pass rewrite:
    * rank + per-key n is everything `ntile` arithmetic needs). */
  def withKeyedRankAndTotal(df: DataFrame, keyCol: String,
      rankCol: String, totalCol: String, order: Column*): DataFrame =
    keyedRankImpl("withKeyedRankAndTotal", df, keyCol, rankCol,
      Some(totalCol), order)

  private def keyedRankImpl(caller: String, df: DataFrame,
      keyCol: String, rankCol: String, totalCol: Option[String],
      order: Seq[Column]): DataFrame = {
    val (sorted, pid, localIdx) = rangeSortedWithMid(df,
      caller, Seq(rankCol) ++ totalCol, col(keyCol) +: order)
    // Driver census: per-(partition, key) row count and the key-run's
    // first local index — bounded rows (object scaladoc).
    val census = sorted
      .groupBy(pid.as("__g_pid"), col(keyCol))
      .agg(count(lit(1)).as("__g_cnt"), min(localIdx).as("__g_min"))
    val offs = censusOffsets(census, keyCol,
      valueAt = _.getLong(2),
      zero = 0L,
      plus = (a, b) =>
        a.asInstanceOf[java.lang.Long] + b.asInstanceOf[java.lang.Long],
      offType = LongType,
      extra = Seq(StructField("__g_min", LongType, nullable = false)
        -> ((r: Row) => r.getLong(3))),
      totalCol = totalCol)
    sorted.withColumn("__g_pid", pid)
      .join(broadcast(offs), Seq("__g_pid", keyCol))
      .withColumn(rankCol,
        localIdx - col("__g_min") + col("__g_off") + lit(1L))
      .drop("__g_pid", "__g_mid", "__g_off", "__g_min")
  }

  /** Shared driver-side fold of a keyed census (the bounded
    * per-(partition, key) frame both keyed operators aggregate): walks
    * the collected rows in ASCENDING PID ORDER — the invariant every
    * offset depends on: range partitions are assigned ascending
    * (key, order) slices in ascending partition-id order — computing
    * each row's EXCLUSIVE per-key prefix of `valueAt` under
    * `plus`/`zero`, and (if `totalCol` is set) the per-key grand
    * totals, read only AFTER the full fold. Returns the offsets as a
    * LocalRelation DataFrame `(__g_pid, key, __g_off, extra…,
    * total?)` ready to broadcast — a LocalRelation build runs no job
    * and its broadcast can never receive a growing input.
    * (private[operators] since round 14 — see [[rangeSortedWithMid]].) */
  private[operators] def censusOffsets(census: DataFrame, keyCol: String,
      valueAt: Row => Any, zero: Any, plus: (Any, Any) => Any,
      offType: DataType, extra: Seq[(StructField, Row => Any)],
      totalCol: Option[String]): DataFrame = {
    val rows = census.collect().sortBy(_.getLong(0))
    val running = scala.collection.mutable.HashMap[Any, Any]()
    val offRows = rows.map { r =>
      val k = r.get(1)
      val off = running.getOrElse(k, zero)
      running(k) = plus(off, valueAt(r))
      (r, k, off)
    }
    val localRows: java.util.List[Row] = offRows.toIndexedSeq
      .map { case (r, k, off) =>
        Row.fromSeq(Seq(r.getLong(0), k, off) ++
          extra.map(_._2(r)) ++ totalCol.map(_ => running(k)))
      }.asJava
    val schema = StructType(Seq(
      StructField("__g_pid", LongType, nullable = false),
      census.schema(keyCol).copy(name = keyCol),
      StructField("__g_off", offType, nullable = false)) ++
      extra.map(_._1) ++
      totalCol.map(t => StructField(t, offType, nullable = false)))
    census.sparkSession.createDataFrame(localRows, schema)
  }

  /** Two-phase per-key PREFIX SUM: appends `cumCol` (running total of
    * `valCol` in the (key, order…) total order, inclusive of the
    * current row, within each key) and `totalCol` (the key's grand
    * total) — the VOLUME analogue of [[withKeyedRank]], built for
    * q_select_head's round-11 swap: its per-lang cumulative-mass window
    * concentrated each language's entire corpus slice in ONE task (at
    * 100 TB a language is terabytes; `PARTITION BY lang` serializes
    * it).
    *
    * Phases: range-repartition on (key, order…) + sort within — P
    * parallel sorts of n/P rows, a key's rows spanning a contiguous
    * partition run; a per-(partition, key) sums census (≤ parts ×
    * |keys| rows — the bounded-key-domain precondition again)
    * prefix-summed ON THE DRIVER into per-key partition offsets and
    * key totals, re-attached as a broadcast LocalRelation; the
    * intra-partition running sum rides a window partitioned by
    * (partition, key) — its biggest partition is capped at one range
    * partition (~n/P rows; the composite order is total, so the range
    * partitioner splits freely), never a key's full slice. cum =
    * partition offset + intra-partition running sum. Equals the
    * per-key running-sum window whenever (order…) is a total order
    * within each key — PropertySpec pins the law; exact for integral
    * `valCol` (the sums never leave BIGINT). For DOUBLE valCol the
    * guarantee is weaker: the driver adds partition sums in ascending
    * pid order, but an EXCLUSIVE sequential fold is not IEEE-identical
    * to the old inclusive-running-sum-minus-own-value census window
    * (fl(fl(s1+s2)+s3) − s3 ≠ fl(s1+s2) in the last ulp when
    * magnitudes differ wildly) — a future double caller must round
    * after the sum or quantize to integer units first (the dsir
    * discipline); every current caller is BIGINT.
    *
    * PRECONDITION: `valCol` must be non-null on every row. SQL `sum`
    * skips NULLs, but a key run whose leading rows in some partition
    * are all NULL makes the intra-partition running sum NULL where the
    * reference window would carry the prior partitions' total forward —
    * the equivalence law above silently breaks (round-11 review
    * finding). Callers today feed non-null counts/lengths; a nullable
    * caller must pre-coalesce with whatever zero means for it. A
    * NULL per-(partition, key) census sum therefore fails loud here. */
  def withKeyedPrefixSum(df: DataFrame, keyCol: String, valCol: String,
      cumCol: String, totalCol: String, order: Column*): DataFrame = {
    val (sorted, pid, _) = rangeSortedWithMid(df,
      "withKeyedPrefixSum", Seq(cumCol, totalCol), col(keyCol) +: order)
    // Driver census: per-(partition, key) sums — the bounded frame both
    // the offsets and the key totals derive from.
    val census = sorted.groupBy(pid.as("__g_pid"), col(keyCol))
      .agg(sum(col(valCol)).as("__g_s"))
    val sumType = census.schema("__g_s").dataType
    val zero: Any = sumType match {
      case LongType => 0L
      case DoubleType => 0.0d
      case d: DecimalType =>
        new java.math.BigDecimal(java.math.BigInteger.ZERO, d.scale)
      case t => sys.error(s"withKeyedPrefixSum: unsupported sum type $t")
    }
    def plus(a: Any, b: Any): Any = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) =>
        java.lang.Long.valueOf(x + y)
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.valueOf(x + y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
      case _ => sys.error("withKeyedPrefixSum: NULL census sum — the " +
        s"non-null `$valCol` precondition is violated (a partition's " +
        s"`$keyCol` run summed to NULL)")
    }
    val offs = censusOffsets(census, keyCol,
      valueAt = _.get(2), zero = zero, plus = plus,
      offType = sumType, extra = Seq.empty, totalCol = Some(totalCol))
    // Intra-partition running sum: ordered by the sort-time record
    // index, partition-capped by the range exchange above.
    val run = Window.partitionBy(col("__g_pid"), col(keyCol))
      .orderBy(col("__g_mid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sorted.withColumn("__g_pid", pid)
      .withColumn("__g_run", sum(col(valCol)).over(run))
      .join(broadcast(offs), Seq("__g_pid", keyCol))
      .withColumn(cumCol, col("__g_run") + col("__g_off"))
      .drop("__g_pid", "__g_mid", "__g_off", "__g_run")
  }

  /** SQL-standard `ntile(k)` from a 1-based global rank and total count
    * n, in pure integer arithmetic: the first n mod k buckets take
    * ⌈n/k⌉ rows, the rest ⌊n/k⌋ — bit-identical to the window function
    * on a total order in every engine. Returns BIGINT; callers cast to
    * INT where the declared schema says so. */
  def ntileFromRank(rank: Column, total: Column, k: Int): Column = {
    val kL = lit(k.toLong)
    val base = idiv(total, kL)          // ⌊n/k⌋
    val rem = total % kL                // buckets that take base+1 rows
    val bigSpan = rem * (base + lit(1L)) // rows living in the big buckets
    // n < k ⇒ base = 0 and every rank sits in a big bucket — the small
    // branch is untaken, but ANSI throws on its div-0 anyway
    // (subexpression elimination hoists divisions out of CASE arms — the
    // q_ab_test safeDen discipline), so floor the dead denominator to 1.
    val baseSafe = greatest(base, lit(1L))
    when(rank <= bigSpan, idiv(rank - 1, base + lit(1L)) + lit(1L))
      .otherwise(rem + idiv(rank - lit(1L) - bigSpan, baseSafe) + lit(1L))
  }
}
