package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables._

/** Misra–Gries frequency summary as a typed Aggregator (§2.10 tier 3):
  * a k-slot (term → residual count) map per partition; inserting past k
  * slots subtracts the (k+1)-th largest residual from every slot and
  * drops the non-positive ones — the classic decrement step, so any
  * term with true frequency > n/k is GUARANTEED to survive (its count
  * can be decremented at most n/k times). Merge = count-sum then one
  * decrement step; the survivor set can vary with merge order (only
  * counts below the guarantee line differ) — which is exactly why
  * [[AggQueries.aggHeavyHitters]] treats the output as a CANDIDATE
  * superset and recounts it exactly before anything leaves the query. */
class MisraGries(k: Int)
    extends Aggregator[String, Map[String, Long], Array[String]] {
  private def shrink(m: Map[String, Long]): Map[String, Long] = {
    // (k+1)-th largest residual; defined because size > k.
    val dec = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
    m.collect { case (t, c) if c > dec => t -> (c - dec) }
  }
  override def zero: Map[String, Long] = Map.empty
  override def reduce(b: Map[String, Long], t: String): Map[String, Long] = {
    val m = b.updated(t, b.getOrElse(t, 0L) + 1L)
    if (m.size > k) shrink(m) else m
  }
  override def merge(a: Map[String, Long],
      b: Map[String, Long]): Map[String, Long] = {
    val m = b.foldLeft(a) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    }
    if (m.size > k) shrink(m) else m
  }
  override def finish(m: Map[String, Long]): Array[String] =
    m.keys.toArray.sorted
  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Array[String]] =
    ExpressionEncoder[Array[String]]()
}

/** Aggregation surface (SURVEY §2.4): hash aggregation with partial/final
  * phases, HAVING, distinct aggregates, rollup/cube/grouping sets, and
  * HyperLogLog approximate distinct.
  *
  * The reference has no aggregation (its pipeline is element-wise,
  * /root/reference/main.py:78-110); this is north-star extension surface.
  * All queries compile to `HashAggregateExec` with map-side partial
  * aggregation — the shuffle moves one row per (group × partition), not the
  * fact table, which is what makes these viable at 100 TB.
  */
object AggQueries {

  /** Bitwise aggregates (AND/OR/XOR folds — flag-mask consolidation and
    * parity checks; order-insensitive, so deterministic without ordering
    * constraints). */
  def aggBitwise(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"))
      .orderBy("event_type")

  /** Start (µs) of `ts`'s 1-hour bucket: `pmod` (floor semantics), so a
    * pre-epoch event lands in the bucket that CONTAINS it — −1.5 h is in
    * [−2 h, −1 h). A truncate-toward-zero `%` formulation would assign
    * every non-boundary pre-epoch event to the bucket after its own; the
    * oracle replicates floor-mod as ((x % m + m) % m) instead, keeping
    * both engines on correct window semantics (EdgeCaseSpec pins the
    * pre-epoch case). Shared with EdgeCaseSpec. */
  def hourBucketStartUs(ts: Column): Column =
    unix_micros(ts) - pmod(unix_micros(ts), lit(3600000000L))

  /** Distinct users per 1-hour event-time bucket — the distinct-agg ×
    * time-window combination (expand + two-phase agg inside each bucket;
    * the sketch variant at scale is q_agg_sketch per window). */
  def aggWindowedDistinct(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy(hourBucketStartUs(col("ts")).as("window_start_us"))
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("window_start_us")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_groupby"         -> aggGroupBy _,
    "q_agg_having"          -> aggHaving _,
    "q_agg_distinct"        -> aggDistinct _,
    "q_agg_rollup"          -> aggRollup _,
    "q_agg_cube"            -> aggCube _,
    "q_agg_grouping_sets"   -> aggGroupingSets _,
    "q_agg_approx_distinct" -> aggApproxDistinct _,
    "q_agg_windowed_distinct" -> aggWindowedDistinct _,
    "q_agg_bitwise" -> aggBitwise _,
    "q_agg_bitmap" -> aggBitmap _,
    "q_share_hierarchy" -> shareHierarchy _,
    "q_agg_decimal_exact" -> aggDecimalExact _,
    "q_agg_heavy_hitters" -> aggHeavyHitters _
  )

  /** Money-typed aggregation through EXACT decimal arithmetic: order
    * totals cast to DECIMAL(18,2) at the scan, summed/min/maxed as
    * decimals (Tungsten's long-backed decimal aggregation — no float
    * drift anywhere in the tree, the accounting-grade path every billing
    * pipeline requires of an engine), surfaced as DOUBLE only at the
    * end via one exact-valued cast so the cross-engine compare is
    * dtype-stable (decimal PRECISION widening rules differ between
    * engines — Spark sum yields DECIMAL(28,2), DuckDB DECIMAL(38,2) —
    * while the exact VALUE does not; the final cast normalizes the
    * carrier, not the number). */
  def aggDecimalExact(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("p")).cast("double").as("total_price"),
        min(col("p")).cast("double").as("min_price"),
        max(col("p")).cast("double").as("max_price"))
      .orderBy("o_orderpriority")

  /** EXACT distinct users per event type via mergeable bitmaps — the
    * exact counterpart to q_agg_sketch's HLL: per-(type, shard, bucket)
    * partial bitmaps (shard = event_id parity stands in for the daily
    * partition of an incremental rollup), OR-merged across shards, bit
    * counts summed over buckets. Like a sketch, partials are built once
    * and merged at any rollup level without touching raw data again —
    * unlike a sketch the answer is exact, at memory cost proportional to
    * the value range (bitmap_bucket_number caps each bitmap at 4 MB, so
    * the id universe shards across buckets instead of growing one blob).
    * Oracled against a plain COUNT(DISTINCT) — the merge machinery must
    * land on the exact answer. */
  def aggBitmap(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(col("event_type"), (col("event_id") % 2).as("shard"),
        bitmap_bucket_number(col("user_id")).as("bkt"),
        bitmap_bit_position(col("user_id")).as("pos"))
      .groupBy("event_type", "shard", "bkt")
      .agg(bitmap_construct_agg(col("pos")).as("bm"))
      .groupBy("event_type", "bkt")
      .agg(bitmap_or_agg(col("bm")).as("bm"))
      .groupBy("event_type")
      .agg(sum(bitmap_count(col("bm"))).as("n_users"))
      .orderBy("event_type")

  // q_agg_approx_distinct is deliberately absent: HLL estimates are not
  // hash-matchable across engines (SURVEY §2.4); its accuracy is bounded
  // against the exact count in AggQueriesSpec instead.
  val oracle: Map[String, String] = Map(
    // Exact decimal aggregation on both sides; only the final carrier
    // cast is double, so values compare bit-for-bit.
    "q_agg_decimal_exact" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // The bitmap rollup must land on the exact distinct count — the
    // oracle is a plain COUNT(DISTINCT), no bitmap machinery needed.
    "q_agg_bitmap" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Floor-mod ((x % m + m) % m) replicates Spark's pmod for pre-epoch
    // timestamps; plain % would bucket them one window too late.
    "q_agg_windowed_distinct" ->
      """SELECT epoch_us(ts)
        |    - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000)
        |    AS window_start_us,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_bitwise" ->
      """SELECT event_type,
        |  bit_and(user_id) AS uid_and,
        |  bit_or(user_id) AS uid_or,
        |  bit_xor(user_id) AS uid_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_having" ->
      """SELECT o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 12
        |ORDER BY o_custkey""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // The exact-verify step makes the MG stage invisible: the final set
    // is exactly {term : 64·count > n}, integer threshold, no float.
    "q_agg_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
        |c AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY term)
        |SELECT term, cnt, n_tokens,
        |  round(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS share
        |FROM c CROSS JOIN n
        |WHERE cnt * 64 > n_tokens
        |ORDER BY cnt DESC, term""".stripMargin,
    "q_agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_agg_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin,
    // Same exact-cents sums at all three levels; shares are single IEEE
    // divisions of BIGINT-derived doubles, rounded 6dp.
    "q_share_hierarchy" ->
      """WITH leaf AS (
        |  SELECT r_name, n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM region
        |    JOIN nation ON n_regionkey = r_regionkey
        |    JOIN customer ON c_nationkey = n_nationkey
        |    JOIN orders ON o_custkey = c_custkey
        |  GROUP BY r_name, n_name),
        |reg AS (
        |  SELECT r_name, CAST(sum(cents) AS BIGINT) AS r_cents
        |  FROM leaf GROUP BY r_name),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t_cents FROM leaf)
        |SELECT l.r_name, l.n_name, l.cents,
        |  round(CAST(l.cents AS DOUBLE) / CAST(g.r_cents AS DOUBLE), 6)
        |    AS share_of_region,
        |  round(CAST(g.r_cents AS DOUBLE) / CAST(t.t_cents AS DOUBLE), 6)
        |    AS region_share_of_total
        |FROM leaf l
        |JOIN reg g ON l.r_name = g.r_name
        |CROSS JOIN tot t
        |ORDER BY l.r_name, l.n_name""".stripMargin
  )

  /** Hierarchical share-of-parent rollup: nation revenue as a share of
    * its region, region as a share of the corpus — the BI composition
    * query behind every treemap/drill-down, and the shape where naive
    * implementations recompute the fact scan per level. Here the fact
    * is reduced ONCE to the leaf (region, nation) grain — everything
    * above is re-aggregation of the leaf frame (dimension-sized), the
    * rollup-from-partials discipline; exact cents at every level, the
    * two shares are single IEEE divisions. The 1-row total rides a
    * broadcast cross join (PlanGuard allowlisted). */
  def shareHierarchy(s: SparkSession, d: String): DataFrame = {
    val leaf = region(s, d)
      .join(nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .as("cents"))
      .transform(Materialize("shareHierarchy.leaf"))
    val reg = leaf.groupBy("r_name").agg(sum("cents").as("r_cents"))
    val tot = leaf.agg(sum("cents").as("t_cents"))
    leaf.join(reg, Seq("r_name"))
      .crossJoin(broadcast(tot))
      .select(col("r_name"), col("n_name"), col("cents"),
        round(col("cents").cast("double")
          / col("r_cents").cast("double"), 6).as("share_of_region"),
        round(col("r_cents").cast("double")
          / col("t_cents").cast("double"), 6).as("region_share_of_total"))
      .orderBy("r_name", "n_name")
  }

  /** TPC-H-Q1-shape pricing summary — also the flagship `SparkEntry.entry`. */
  def aggGroupBy(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))),
          2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Post-aggregation predicate (HAVING) — a plain filter above the agg. */
  def aggHaving(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total"))
      .filter(col("n_orders") >= 12)
      .orderBy("o_custkey")

  /** Multiple distinct aggregates per group — Catalyst rewrites through
    * Expand into a two-phase aggregation (`RewriteDistinctAggregates`). */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct("l_partkey").as("n_parts"),
        countDistinct("l_suppkey").as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Hierarchical subtotals; null grouping slots are coalesced to a sentinel
    * so the output carries no NULL ordering ambiguity (SURVEY §7.5). */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"),
        col("sum_qty"))
      .orderBy("rf", "ls")

  /** All grouping combinations (Expand with 4 projections). */
  def aggCube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"),
        col("sum_qty"))
      .orderBy("rf", "ls")

  /** Explicit grouping sets via SQL (the one §2.4 shape the DataFrame API
    * does not expose directly). */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem_gs")
    s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
            |  coalesce(l_linestatus, 'ALL') AS ls,
            |  count(1) AS n,
            |  round(sum(l_extendedprice), 2) AS sum_price
            |FROM lineitem_gs
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            |ORDER BY rf, ls""".stripMargin)
  }

  /** HLL++ approximate distinct users per event type (no oracle — bounded
    * against the exact count in the spec). */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        approx_count_distinct("user_id").as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Heavy hitters (token frequency > n/64) by Misra–Gries candidate
    * generation + EXACT verification recount — the bounded-memory
    * answer to "which items dominate?" when the key space dwarfs
    * memory.
    *
    * The [[MisraGries]] summary guarantees its ≤64-slot output is a
    * SUPERSET of every true heavy hitter; the recount then makes the
    * final set exact, so the output is deterministic (whatever MG's
    * merge-order-dependent innards produce, survivors are re-counted
    * exactly and misses are impossible by the guarantee) and the oracle
    * is plain `HAVING 64·count > n`. The threshold compare stays in
    * exact integers (64·cnt > n — no float boundary).
    *
    * Scale shape: the full-groupBy alternative shuffles the entire
    * token universe; this shuffles 64-slot map partials + the ≤64-row
    * candidate recount (broadcast-gated equi-join on term), two passes
    * over the scan but KB over the wire. */
  def aggHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
    val cands = tok.as[String]
      .select(new MisraGries(64).toColumn)
      .toDF("cands")
      .select(explode(col("cands")).as("term"))
    val n = tok.agg(count(lit(1)).as("n_tokens"))
    tok.join(broadcast(cands), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * lit(64L) > col("n_tokens"))
      .select(col("term"), col("cnt"), col("n_tokens"),
        round(col("cnt").cast("double") / col("n_tokens").cast("double"),
          6).as("share"))
      .orderBy(col("cnt").desc, col("term"))
  }
}
