package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Join surface (SURVEY §2.3): inner / broadcast / outer / semi / anti /
  * multiway / range / as-of.
  *
  * The reference has a single PCollection and no joins
  * (/root/reference/main.py:78-110); this is north-star extension surface.
  *
  * Scale notes (the 100 TB contract):
  *  - Dimension joins (region, nation, supplier, part at TPC-H ratios) stay
  *    under the broadcast threshold; `broadcast()` is explicit where the
  *    statistics might not prove it, so no shuffle of the fact side ever
  *    happens for them.
  *  - Fact-fact joins (orders⋈lineitem) shuffle on the join key once;
  *    AQE handles skew-splitting at runtime.
  *  - The as-of join deliberately avoids the naive inequality-join + argmax
  *    (quadratic blow-up per key) in favor of a single sort within user
  *    partitions + a running "last seen" window — one shuffle, O(n log n),
  *    the plan that survives a 100× scale-up.
  */
object JoinQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_inner"     -> joinInner _,
    "q_join_broadcast" -> joinBroadcast _,
    "q_join_left"      -> joinLeft _,
    "q_join_semi"      -> joinSemi _,
    "q_join_anti"      -> joinAnti _,
    "q_join_multiway"  -> joinMultiway _,
    "q_join_range"     -> joinRange _,
    "q_join_asof"      -> joinAsof _,
    "q_join_skew"      -> joinSkew _,
    "q_join_full"      -> joinFull _,
    "q_join_bucketed"  -> joinBucketed _,
    "q_join_null_safe" -> joinNullSafe _,
    "q_join_interval_bin" -> joinIntervalBin _,
    "q_join_scd2_pit"  -> joinScd2Pit _,
    "q_join_asof_nearest" -> joinAsofNearest _,
    "q_join_fuzzy"     -> joinFuzzy _,
    "q_join_radius"    -> joinRadius _
  )

  val oracle: Map[String, String] = Map(
    "q_join_inner" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_urgent,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total
        |FROM customer LEFT JOIN (
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_multiway" ->
      """SELECT r_name, n_name,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region
        |  JOIN nation ON n_regionkey = r_regionkey
        |  JOIN customer ON c_nationkey = n_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q_join_range" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_join_asof" ->
      """SELECT p.event_id, epoch_us(c.ts) AS click_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    // Same user-keyed band join; winner by the identical
    // (abs gap, view ts, view id) total order — ties cannot diverge.
    "q_join_asof_nearest" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |v AS (SELECT user_id, ts_us AS vts, event_id AS view_id
        |      FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts_us AS pts, event_id AS purchase_id
        |      FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.user_id, p.purchase_id, p.pts, v.vts, v.view_id
        |  FROM p JOIN v USING (user_id)
        |  WHERE abs(v.vts - p.pts) <= 3600000000),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY abs(vts - pts), vts, view_id) AS rn
        |  FROM j)
        |SELECT user_id, purchase_id, view_id, vts - pts AS gap_us
        |FROM r WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    // The salted join's OUTPUT is the plain join's output — only the
    // physical key distribution differs; the oracle states exactly that.
    "q_join_skew" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Key ranges overlap only on [40,80): rows null-extend in BOTH
    // directions (left-only users < 40, right-only customers >= 80).
    "q_join_null_safe" ->
      """SELECT s.s_key AS nation_key, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_supp,
        |  CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
        |FROM (SELECT CASE WHEN s_suppkey % 10 = 0 THEN NULL
        |             ELSE s_nationkey END AS s_key, s_suppkey
        |      FROM supplier) s
        |JOIN (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
        |             ELSE c_nationkey END AS c_key, c_custkey
        |      FROM customer) c
        |  ON s.s_key IS NOT DISTINCT FROM c.c_key
        |GROUP BY s.s_key ORDER BY nation_key NULLS FIRST""".stripMargin,
    "q_join_full" ->
      """SELECT coalesce(e.user_id, o.o_custkey) AS id,
        |  e.n_events, o.n_orders
        |FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |      FROM events WHERE user_id < 80 GROUP BY user_id) e
        |FULL OUTER JOIN
        |     (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |      FROM orders WHERE o_custkey >= 40 AND o_custkey < 120
        |      GROUP BY o_custkey) o
        |  ON e.user_id = o.o_custkey
        |ORDER BY id""".stripMargin,
    // The oracle affords the plain theta join; the Spark side reaches
    // the same pairs through the grid-binned equi join (see
    // [[joinIntervalBin]]). Day numbers are exact integers everywhere.
    "q_join_interval_bin" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k1,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS s1,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) + 14 AS e1
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |b AS (
        |  SELECT o_orderkey AS k2,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS s2,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) + 3 AS e2
        |  FROM orders WHERE o_orderkey % 10 = 1)
        |SELECT k1, k2,
        |  least(e1, e2) - greatest(s1, s2) + 1 AS overlap_days
        |FROM a JOIN b ON s1 <= e2 AND s2 <= e1
        |ORDER BY k1, k2""".stripMargin,

    // Same SCD2 derivation as q_scd2's twin, same [from, next-from)
    // interval predicate; tie-date versions collapse to empty intervals
    // on both engines, so every lineitem matches exactly one version.
    "q_join_scd2_pit" ->
      """WITH dim AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM orders),
        |fact AS (
        |  SELECT l_orderkey, l_linenumber, l_shipdate, o_custkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT f.l_orderkey, f.l_linenumber, f.o_custkey AS custkey,
        |  d.o_orderkey AS version_key,
        |  d.o_orderpriority AS priority_at_ship,
        |  d.valid_to IS NULL AS is_current
        |FROM fact f JOIN dim d
        |  ON f.o_custkey = d.o_custkey
        |  AND d.valid_from <= f.l_shipdate
        |  AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
        |ORDER BY f.l_orderkey, f.l_linenumber, version_key""".stripMargin,
    // Same deterministic corruption, block key, and min-struct argmin;
    // levenshtein is the classic edit distance in both engines, and the
    // (distance, candidate key) struct order is a total order, so the
    // genuine cross-key ties the drop-typo creates cannot diverge.
    "q_join_fuzzy" ->
      """WITH probes AS (
        |  SELECT c_custkey AS p_id,
        |    CASE WHEN c_custkey % 3 = 0
        |           THEN substr(c_name, 1, 17) || 'X'
        |         WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, 17)
        |         ELSE c_name END AS p_nm,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'replaced'
        |         WHEN c_custkey % 3 = 1 THEN 'dropped'
        |         ELSE 'clean' END AS typo_class
        |  FROM customer),
        |canon AS (
        |  SELECT c_custkey AS c_id, c_name AS c_nm,
        |    substr(c_name, 1, 16) AS blk
        |  FROM customer),
        |cand AS (
        |  SELECT p.p_id, p.typo_class, c.c_id,
        |    CAST(levenshtein(p.p_nm, c.c_nm) AS INT) AS dist
        |  FROM probes p JOIN canon c ON substr(p.p_nm, 1, 16) = c.blk
        |  WHERE levenshtein(p.p_nm, c.c_nm) <= 2)
        |SELECT p_id, typo_class,
        |  CAST(min(CAST(dist AS BIGINT) * 281474976710656 + c_id)
        |    % 281474976710656 AS BIGINT) AS best_id,
        |  CAST(min(CAST(dist AS BIGINT) * 281474976710656 + c_id)
        |    // 281474976710656 AS INT) AS best_dist,
        |  CAST(count(*) AS BIGINT) AS n_candidates
        |FROM cand GROUP BY p_id, typo_class
        |ORDER BY p_id""".stripMargin,
    // The oracle affords the plain theta join (the q_join_interval_bin
    // convention); distance-squared is the same float-widened IEEE tree
    // on both engines, so the <= r^2 cut and the min-struct nearest are
    // decision-identical.
    "q_join_radius" ->
      """WITH p AS (
        |  SELECT vec_id, embedding[1]::DOUBLE AS x,
        |    embedding[2]::DOUBLE AS y
        |  FROM embeddings),
        |nb AS (
        |  SELECT a.vec_id,
        |    (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2,
        |    b.vec_id AS nb_id
        |  FROM p a JOIN p b ON a.vec_id <> b.vec_id
        |  WHERE (b.x - a.x) * (b.x - a.x)
        |      + (b.y - a.y) * (b.y - a.y) <= 0.0025),
        |census AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_neighbors,
        |    (min(struct_pack(d2 := d2, nb_id := nb_id))).nb_id
        |      AS nearest_id,
        |    round((min(struct_pack(d2 := d2, nb_id := nb_id))).d2, 9)
        |      AS nearest_d2
        |  FROM nb GROUP BY vec_id)
        |SELECT p.vec_id, coalesce(c.n_neighbors, 0) AS n_neighbors,
        |  c.nearest_id, c.nearest_d2
        |FROM p LEFT JOIN census c ON c.vec_id = p.vec_id
        |ORDER BY p.vec_id""".stripMargin
  )

  /** Equi inner join orders⋈customer — sort-merge/shuffled-hash at scale,
    * AQE may demote to broadcast when the dim side is small. */
  def joinInner(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
      .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
        "o_totalprice")
      .orderBy("o_orderkey")

  /** Small-dim join with an explicit broadcast hint — asserted in the
    * plan-shape spec (BroadcastHashJoinExec, zero shuffle). */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .join(broadcast(region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey")

  /** Left outer with null extension: customers keep a row (count 0) when
    * they have no urgent order. */
  def joinLeft(s: SparkSession, d: String): DataFrame = {
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_urgent"),
        round(coalesce(sum("o_totalprice"), lit(0)), 2).as("total"))
      .orderBy("c_custkey")
  }

  /** Semi join (EXISTS) — left_semi never materializes the right columns. */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Anti join (NOT EXISTS). */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** 4-hop star join (TPC-H Q5 shape): the two tiny dims broadcast, and
    * the fact side is PRE-AGGREGATED per l_orderkey before touching the
    * dimension chain — valid because the final grouping keys are
    * functionally dependent on the order key, so sum-of-partials equals
    * the global sum. The big table is reduced 10× at the shuffle (skinny
    * (key, count, partial-revenue) rows instead of wide joined rows), the
    * classic aggregate-pushdown-below-join that matters most at fact-table
    * scale. Measured ~15% at sf0.1; the ratio grows with fact:dim size. */
  def joinMultiway(s: SparkSession, d: String): DataFrame = {
    val lrev = lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("li_n"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("li_rev"))
    broadcast(region(s, d))
      .join(broadcast(nation(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .join(customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(lrev, col("l_orderkey") === col("o_orderkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum("li_n").as("n_items"),
        round(sum("li_rev"), 2).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** Range (theta) join anchored on an equi key — the equi conjunct keeps
    * Catalyst on a hash/merge join with the band as a post-filter, never a
    * broadcast-nested-loop. */
  def joinRange(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(
        orders(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")

  /** As-of join: each purchase event matched to the user's latest click at
    * or before it (DuckDB `ASOF JOIN` semantics: greatest c.ts <= p.ts).
    *
    * Implementation is the scale path: one sort per user partition with a
    * running last-click window — clicks sort before other types at equal
    * timestamps so the <= bound is inclusive — instead of an inequality
    * join whose per-key fan-out is quadratic. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts"),
        when(col("event_type") === "click", 0).otherwise(1),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn(
        "last_click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("last_click_us").as("click_us"))
      .orderBy("event_id")
  }

  /** The skew-mitigation path as a verified query: an 8-way salted equi
    * join (SkewOps — content-hash + row-counter salt on the fact side,
    * dimension replicated 8×) whose aggregate provably equals the plain
    * join's. This is the manual spread for a hot key that AQE's
    * post-shuffle splitting can't fix (e.g. one key larger than a whole
    * executor); salt fan-out trades dim replication for reducer
    * parallelism. */
  def joinSkew(s: SparkSession, d: String): DataFrame =
    SkewOps.saltedEquiJoin(orders(s, d), customer(s, d),
      "o_custkey", "c_custkey", n = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("c_mktsegment")

  /** Full outer join with BOTH null-extension directions exercised: the
    * aggregated key ranges overlap only in the middle, so unmatched rows
    * survive from each side (full outer shuffles both sides — never
    * broadcastable — and AQE cannot demote it; reconciliation jobs at
    * scale live with exactly this shape). */
  /** Null-safe equi join (`<=>` / `IS NOT DISTINCT FROM`): supplier and
    * customer keyed on a deterministically-nulled nation key (every 10th
    * entity loses its key — the optional-key shape MERGE pipelines carry).
    * `<=>` keeps NULL keys as a real join group instead of silently
    * dropping them, while REMAINING a hash-joinable equi condition:
    * EqualNullSafe is a supported hash-join key, so the plan stays a
    * broadcast/sort-merge hash join, never a nested loop. The output
    * aggregates per-key pair and distinct counts, so the NULL group's
    * cross-match is visible as one row next to the ordinary nation rows.
    *
    * Scale note: at 100 TB the NULL group is a single shuffle key — if
    * nulls dominate, that key is the skew cell and the salting pattern
    * from q_join_skew applies to it specifically; here the null fraction
    * is 10%, within AQE's skew tolerance. */
  def joinNullSafe(s: SparkSession, d: String): DataFrame = {
    val sup = supplier(s, d).select(
      when(pmod(col("s_suppkey"), lit(10)) === 0, lit(null))
        .otherwise(col("s_nationkey")).cast("long").as("s_key"),
      col("s_suppkey"))
    val cus = customer(s, d).select(
      when(pmod(col("c_custkey"), lit(10)) === 0, lit(null))
        .otherwise(col("c_nationkey")).cast("long").as("c_key"),
      col("c_custkey"))
    sup.join(cus, col("s_key") <=> col("c_key"))
      .groupBy(col("s_key").as("nation_key"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("s_suppkey")).as("n_supp"),
        countDistinct(col("c_custkey")).as("n_cust"))
      .orderBy(asc_nulls_first("nation_key"))
  }

  def joinFull(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .filter(col("user_id") < 80)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val o = orders(s, d)
      .filter(col("o_custkey") >= 40 && col("o_custkey") < 120)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    e.join(o, col("user_id") === col("o_custkey"), "full_outer")
      .select(coalesce(col("user_id"), col("o_custkey")).as("id"),
        col("n_events"), col("n_orders"))
      .orderBy("id")
  }

  /** Fact⋈fact join through CO-LOCATED BUCKETED tables — the layout that
    * moves the join shuffle to write time, once, so every later join on
    * the key reads bucket i against bucket i with NO Exchange on either
    * side (ScaleOpsSpec pins that plan property with broadcast disabled;
    * at this declared query's tiny SF Catalyst is free to broadcast
    * instead, which is also correct). Bucket metadata lives in the
    * catalog, so unlike `repartition()` the co-location survives across
    * jobs and sessions — the "reuse a partitioning across stages" answer
    * at 100 TB. Tables are external under /tmp/graft-warehouse with
    * per-SF names; stale directories from previous JVMs are cleared
    * first (the in-memory catalog dies with the JVM, the files do not). */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    import graft.sources.BucketedLayout
    val sf = graft.sources.SourceQueries.sfName(d)
    val (ot, lt) = (s"b_orders_q_$sf", s"b_lineitem_q_$sf")
    // Stage-once: bucketing is the INGEST-time shuffle; repeat runs
    // register/reuse the layout and measure the exchange-free
    // steady-state join, which is the production shape.
    def stage(t: String, key: String, src: String)(df: => DataFrame)
        : Unit = {
      val loc = s"/tmp/graft-warehouse/$t"
      BucketedLayout.ensureBucketed(s, loc, "v1", Seq(s"$d/$src"),
        BucketedLayout.Table(t, key, 8, loc)(() => df))
    }
    stage(ot, "o_orderkey", "orders.parquet")(
      orders(s, d).select("o_orderkey", "o_orderpriority"))
    stage(lt, "l_orderkey", "lineitem.parquet")(
      lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"))
    s.table(ot).join(s.table(lt),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Interval-overlap join with NO equi key — two sets of date windows
    * (14-day and 3-day, derived from disjoint order slices) paired where
    * they intersect. [[joinRange]] rides its `l_orderkey = o_orderkey`
    * equi key and only adds range predicates; here there is no key at
    * all, which is the case Catalyst can only plan as a nested loop —
    * the shape that melts at scale.
    *
    * The scale rewrite is GRID BINNING (the range-join technique in
    * Databricks' range-join optimization and genomics overlap joins):
    * choose a cell width ≥ the max interval length (14 days), explode
    * each interval to the grid cells it touches (≤ 2 here), equi-join on
    * the cell id, then apply the exact overlap predicate. Pairs that
    * met in two shared cells are NOT de-duplicated by a distinct pass
    * (round 14 optimization: `dropDuplicates(k1, k2)` was a full extra
    * exchange + aggregation over the whole pair set) — each pair
    * reports only from its CANONICAL cell, the one containing the
    * overlap's start max(s_k1, s_k2): that point lies inside both
    * intervals whenever they overlap (max ≥ each start; max ≤ each end
    * because the overlap is non-empty), so both sides registered that
    * cell and exactly one joined row per pair survives the
    * `cell = max(s1, s2) div w` predicate — uniqueness by
    * construction, one shuffle fewer. Pair work is
    * confined to cell-local populations — the join is a plain shuffled
    * equi hash/merge join (PlanShapeSpec pins no BNLJ/cartesian), and
    * the ≤2× explode is the entire overhead. Cell width tunes the
    * tradeoff: wider cells = fewer duplicate registrations, narrower =
    * smaller cell populations. */
  def joinIntervalBin(s: SparkSession, d: String): DataFrame = {
    val cell = 14
    def side(slice: Int, len: Int, k: String): DataFrame =
      orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(10)) === slice)
        .select(col("o_orderkey").as(k),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("long").as(s"s_$k"),
          (datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("long") + len).as(s"e_$k"))
    val a = side(0, 14, "k1")
      .withColumn("cell",
        explode(sequence(expr(s"s_k1 div $cell"), expr(s"e_k1 div $cell"))))
    val b = side(1, 3, "k2")
      .withColumn("cell",
        explode(sequence(expr(s"s_k2 div $cell"), expr(s"e_k2 div $cell"))))
    a.join(b, Seq("cell"))
      .filter(col("s_k1") <= col("e_k2") && col("s_k2") <= col("e_k1")
        && col("cell") === call_function("div",
          greatest(col("s_k1"), col("s_k2")), lit(cell.toLong)))
      .select(col("k1"), col("k2"),
        (least(col("e_k1"), col("e_k2"))
          - greatest(col("s_k1"), col("s_k2")) + 1).as("overlap_days"))
      .orderBy("k1", "k2")
  }

  /** Point-in-time join against the SCD2 dimension `q_scd2` builds: each
    * lineitem picks the customer-priority VERSION valid at its ship
    * date — the feature-store/warehouse consumption half of the SCD2
    * pair (building history is useless if facts can't read it as-of).
    *
    * Correct-by-construction uniqueness: versions are [valid_from,
    * next valid_from) half-open intervals per customer; tie-date
    * versions collapse to EMPTY intervals (from = to excludes
    * everything), and a lineitem's ship date is ≥ its own order's date ≥
    * the customer's first valid_from — so every fact row matches exactly
    * one version, no dedup step.
    *
    * Scale shape: the join's equi-key is the customer — Spark plans a
    * shuffled hash/sort-merge join on custkey with the interval
    * predicate as a post-join filter over each customer's own ≤10
    * versions (never a BNLJ: PlanGuard sweeps it). The dimension is
    * fact-derived here; a production PIT join against a small dimension
    * broadcasts instead, for free.
    *
    * The output ORDER BY carries version_key because (l_orderkey,
    * l_linenumber) is NOT unique in this fixture — the duplicated line
    * keys are one of `q_dq_rules`' deliberately planted violations, and
    * two dup rows with different ship dates legitimately resolve to
    * different versions. */
  def joinScd2Pit(s: SparkSession, d: String): DataFrame = {
    val vw = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val dim = orders(s, d)
      .select(col("o_custkey").as("v_custkey"),
        col("o_orderkey").as("version_key"),
        col("o_orderpriority"),
        col("o_orderdate").as("valid_from"),
        lead("o_orderdate", 1).over(vw).as("valid_to"))
    val fact = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    fact.join(dim,
        col("o_custkey") === col("v_custkey") &&
          col("valid_from") <= col("l_shipdate") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("o_custkey").as("custkey"), col("version_key"),
        col("o_orderpriority").as("priority_at_ship"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("l_orderkey", "l_linenumber", "version_key")
  }

  /** Nearest-match join: each purchase paired with the CLOSEST view by
    * the same user within ±1 h, either direction — [[joinAsof]] looks
    * strictly backward, which credits a view 59 minutes stale over one
    * 5 seconds later; sensor/event alignment wants NEAREST.
    *
    * Scale shape: an equi-join on user_id (shuffle on the user key,
    * AQE-managed) with the ±1 h band as a post-join filter — per-user
    * fan is bounded by views × purchases per user (the
    * `q_audience_overlap` class; grid binning on time cells is the
    * rewrite if per-user fan ever unbounds). The winner per purchase is
    * a `row_number` over (abs gap, view ts, view id) — a total order,
    * so ties cannot diverge engines; integer µs gaps end to end. Only
    * matched purchases emit (the unmatched-side null would make the
    * rank's null ordering engine-specific — declared inner). */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("vts"),
        col("event_id").as("view_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("pts"),
        col("event_id").as("purchase_id"))
    p.join(v, Seq("user_id"))
      .filter(abs(col("vts") - col("pts")) <= lit(3600000000L))
      .withColumn("rn", row_number().over(
        Window.partitionBy("purchase_id")
          .orderBy(abs(col("vts") - col("pts")), col("vts"),
            col("view_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        (col("vts") - col("pts")).as("gap_us"))
      .orderBy("purchase_id")
  }

  /** Blocked fuzzy (entity-resolution) join: a deterministically
    * corrupted probe side (per-key typo class — last char replaced,
    * dropped, or kept; the planted-fixture convention, since the
    * synthetic corpus ships no dirty names) matched back to the
    * canonical customer dim by Levenshtein ≤ 2 INSIDE 16-char prefix
    * blocks — the record-linkage shape every ingest dedup / master-data
    * pass runs.
    *
    * Scale: a global fuzzy join is O(n²) edit-distance calls; BLOCKING
    * on the shared name prefix (a pure scan-stage key both sides derive
    * identically) confines candidate pairs to block-local populations
    * (≤100 canonical names per block — the last-2-digit span) and keeps
    * the join a plain hash equi-join on the block key, with codegen'd
    * `levenshtein` as the post-join filter. Best match per probe by
    * min(struct(distance, candidate key)) — a total order deliberately
    * exercised by genuine cross-key distance-1 ties: a replaced last
    * char is one substitution from every last-digit sibling, and the
    * drop-typo "…12" is one insert from each of key 12 and "…120"–
    * "…129" — the tiebreak must resolve identically on both engines. */
  def joinFuzzy(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d)
    val probes = cust.select(
      col("c_custkey").as("p_id"),
      when(col("c_custkey") % 3 === 0,
        concat(substring(col("c_name"), 1, 17), lit("X")))
        .when(col("c_custkey") % 3 === 1, substring(col("c_name"), 1, 17))
        .otherwise(col("c_name")).as("p_nm"),
      when(col("c_custkey") % 3 === 0, "replaced")
        .when(col("c_custkey") % 3 === 1, "dropped")
        .otherwise("clean").as("typo_class"))
    val canon = cust.select(col("c_custkey").as("c_id"),
      col("c_name").as("c_nm"), substring(col("c_name"), 1, 16).as("blk"))
    // Banded edit distance: levenshtein(l, r, k) early-exits above the
    // threshold (O(len·k) instead of O(len²) per candidate, -1 beyond
    // k) — measured 4.95 s → ~1.6 s at sf0.1 vs the unbounded form,
    // since every in-block candidate pays the DP but only ~10% land
    // within distance 2.
    // The probe table is KB-sized, but the join FANS OUT 100 candidates
    // per probe and each pays an edit-distance DP — compute-heavy on
    // tiny input, the inverse of the usual shape. Left unpartitioned,
    // the whole loop runs in the file's single input split (AQE happily
    // coalesces a keyless repartition of 15k rows right back); an
    // EXPLICIT numPartitions repartition on the block key is exempt
    // from AQE coalescing and spreads the DP across the executor —
    // measured 3.7 s → 0.9 s at sf0.1.
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cand = probes
      .withColumn("blk", substring(col("p_nm"), 1, 16))
      .repartition(parts, col("blk"))
      .join(canon, Seq("blk"))
      .withColumn("dist", levenshtein(col("p_nm"), col("c_nm"), 2))
      .where(col("dist") >= 0)
      .select(col("p_id"), col("typo_class"), col("c_id"), col("dist"))
    // Argmin by PACKED long, not min(struct): struct min/max falls out
    // of HashAggregate into SortAggregate (a full sort of the 1.5M-row
    // candidate frame — measured as the plan's dominant cost); packing
    // (dist, c_id) into dist·2⁴⁸ + c_id keeps the identical
    // lexicographic order in a fixed-width long the hash agg handles,
    // decoded after the reduction. Sound while c_id < 2⁴⁸ — raise the
    // shift before the key space does.
    val packed = col("dist").cast("long") * lit(1L << 48) + col("c_id")
    cand.groupBy("p_id", "typo_class")
      .agg(min(packed).as("best"), count(lit(1)).as("n_candidates"))
      .select(col("p_id"), col("typo_class"),
        (col("best") % (1L << 48)).as("best_id"),
        shiftright(col("best"), 48).cast("int").as("best_dist"),
        col("n_candidates"))
      .orderBy("p_id")
  }

  /** 2-D radius (spatial) join with NO equi key —
    * [[joinIntervalBin]]'s planar generalization: point pairs within
    * Euclidean distance r (embedding dims 1–2 as coordinates) — the
    * geospatial / collision-detection / near-duplicate-blur shape
    * Catalyst could only plan as a nested loop.
    *
    * Rewrite: 2-D GRID BINNING with cell width = r. Each LEFT point
    * owns its cell; each RIGHT point explodes to its 3×3 cell
    * neighborhood (bounded 9× fan-out of ids+coords, never payload),
    * the join is a plain hash equi-join on the (cx, cy) cell key, and
    * the exact distance² predicate post-filters cell-local candidates.
    * Any true pair is within one cell of each other in both axes, so
    * the 3×3 fan guarantees no missed pair; each pair is found exactly
    * once (the left side is never exploded). PlanGuard: never BNLJ.
    *
    * Determinism: distance² = (Δx)²+(Δy)² on float-widened doubles is
    * one shared IEEE tree — the ≤ r² cut and the min-struct nearest
    * cannot diverge between engines. Scale: pair work is confined to
    * 9-cell neighborhoods; number of candidates ≈ density × corpus, not
    * corpus². */
  def joinRadius(s: SparkSession, d: String): DataFrame = {
    val r = 0.05
    val p = embeddings(s, d).select(col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val left = p.select(col("vec_id"), col("x"), col("y"),
      floor(col("x") / r).as("cx"), floor(col("y") / r).as("cy"))
    val right = p
      .select(col("vec_id").as("nb_id"), col("x").as("bx"),
        col("y").as("by"),
        explode(sequence(lit(-1), lit(1))).as("dx"))
      .select(col("nb_id"), col("bx"), col("by"),
        (floor(col("bx") / r) + col("dx")).as("cx"),
        explode(sequence(lit(-1), lit(1))).as("dy"))
      .select(col("nb_id"), col("bx"), col("by"), col("cx"),
        (floor(col("by") / r) + col("dy")).as("cy"))
    val d2 = (col("bx") - col("x")) * (col("bx") - col("x")) +
      (col("by") - col("y")) * (col("by") - col("y"))
    val nb = left.join(right, Seq("cx", "cy"))
      .where(col("vec_id") =!= col("nb_id") && d2 <= r * r)
      .select(col("vec_id"), d2.as("d2"), col("nb_id"))
    val census = nb.groupBy("vec_id")
      .agg(count(lit(1)).as("n_neighbors"),
        min(struct(col("d2"), col("nb_id"))).as("best"))
      .select(col("vec_id"), col("n_neighbors"),
        col("best.nb_id").as("nearest_id"),
        round(col("best.d2"), 9).as("nearest_d2"))
    p.select(col("vec_id")).join(census, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("nearest_id"), col("nearest_d2"))
      .orderBy("vec_id")
  }
}
