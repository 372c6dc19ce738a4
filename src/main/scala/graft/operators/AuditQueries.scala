package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Physical / relational integrity audits (SURVEY §2.8): the checks a
  * warehouse runs over the DATA LAYOUT and the KEY GRAPH rather than the
  * values — referential integrity across the star schema, and the
  * file-level layout audit behind parquet zone-map skipping.
  *
  * Extension surface — the reference computes nothing (SURVEY §0.1,
  * /root/reference/main.py:78-110); these rows are the operational half
  * of the BASELINE.json data-quality mandate: `q_dq_rules` gates VALUES,
  * `q_dq_freshness` gates ARRIVAL, these two gate STRUCTURE (the key
  * graph) and STORAGE (the file layout).
  */
object AuditQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dq_referential" -> dqReferential _,
    "q_dq_layout"      -> dqLayout _
  )

  /** One FK edge of the star schema, reduced to a 1-row audit.
    *
    * Scale shape: the child is column-pruned to the single fk (an 8-byte
    * ReadSchema even on a 100 TB fact scan) and collapsed by ONE
    * map-side-combined keyed agg to its distinct-key frame; the parent
    * contributes only its pk column. The two key frames meet in a
    * full-outer equi-join — full-outer because the audit needs all three
    * populations at once (matched, orphan child keys, unreferenced
    * parent keys); broadcast is impossible for full-outer, but both
    * sides are already key-cardinality, not row-cardinality. Everything
    * after the join is one more agg to a single row.
    */
  private def fkEdge(name: String, child: DataFrame, fk: String,
                     parent: DataFrame, pk: String): DataFrame = {
    val ck = child.groupBy(col(fk).cast("long").as("fk"))
      .agg(count(lit(1)).as("cnt"))
    val pkeys = parent.select(col(pk).cast("long").as("pk")).distinct()
    ck.join(pkeys, col("fk") === col("pk"), "full_outer")
      .agg(
        coalesce(sum(when(col("cnt").isNotNull, col("cnt"))), lit(0L))
          .as("child_rows"),
        count(when(col("fk").isNotNull, lit(1))).as("child_keys"),
        coalesce(sum(when(col("fk").isNull && col("pk").isNull,
          col("cnt"))), lit(0L)).as("null_fk"),
        coalesce(sum(when(col("fk").isNotNull && col("pk").isNull,
          col("cnt"))), lit(0L)).as("orphan_rows"),
        count(when(col("pk").isNotNull, lit(1))).as("parent_rows"),
        count(when(col("fk").isNotNull && col("pk").isNotNull, lit(1)))
          .as("parents_hit"),
        coalesce(max(when(col("fk").isNotNull, col("cnt"))), lit(0L))
          .as("max_fanout"))
      .select(lit(name).as("edge"), col("child_rows"), col("child_keys"),
        col("null_fk"), col("orphan_rows"), col("parent_rows"),
        col("parents_hit"),
        // parent_rows = 0 (an empty-corpus edge) leaves coverage
        // undefined — declared NULL; the guard keeps the divide
        // unreachable under ANSI.
        when(col("parent_rows") > 0,
          round(col("parents_hit").cast("double")
            / col("parent_rows").cast("double"), 6)).as("coverage"),
        col("max_fanout"))
  }

  /** Referential-integrity audit of the full star schema: one row per FK
    * edge with child/parent cardinalities, orphan and null-fk row
    * counts, parent coverage, and max fan-out — the structural audit
    * `q_dq_rules`' single referential rule samples (it checks ONE edge
    * for violations; this walks every edge and also reports the
    * CARDINALITY PROFILE a join planner or a CDC consumer needs: is the
    * edge still 1:N within expected bounds, did coverage drop because an
    * upstream dimension load was partial).
    *
    * Seven edges, each the [[fkEdge]] reduction; the three lineitem
    * edges re-scan the fact, but each scan is pruned to one int column
    * and each reduction is map-side combined — at 100 TB the three
    * single-column scans are what a combined multi-key pass would have
    * to shuffle anyway (three different keys = three shuffles regardless;
    * sharing the scan would only help with the fact cached).
    */
  def dqReferential(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d); val o = orders(s, d); val c = customer(s, d)
    val su = supplier(s, d); val n = nation(s, d)
    Seq(
      fkEdge("customer.nation", c, "c_nationkey", n, "n_nationkey"),
      fkEdge("lineitem.orders", li, "l_orderkey", o, "o_orderkey"),
      fkEdge("lineitem.part", li, "l_partkey", part(s, d), "p_partkey"),
      fkEdge("lineitem.supplier", li, "l_suppkey", su, "s_suppkey"),
      fkEdge("nation.region", n, "n_regionkey", region(s, d),
        "r_regionkey"),
      fkEdge("orders.customer", o, "o_custkey", c, "c_custkey"),
      fkEdge("supplier.nation", su, "s_nationkey", n, "n_nationkey")
    ).reduce(_.union(_)).orderBy("edge")
  }

  /** File-layout audit of a partitioned parquet table: per partition
    * bucket, the FILE count (the small-files metric — the #1 silent
    * killer of 100 TB scans: a million 1 MB files turn a columnar scan
    * into a metadata storm), per-file row mass, and the key-range span
    * each file covers as a fraction of the global key range — the
    * zone-map effectiveness number: parquet footers carry min/max per
    * file, and a range predicate can skip a file only if its span is
    * narrow, so `span_frac` ≈ 1.0 IS the audit finding "this layout
    * cannot range-skip" (hash-bucketed layouts trade range-skip for
    * point-lookup pruning — exactly what this fixture shows).
    *
    * The staged layout is written ONCE ([[graft.sources.Staging.once]]):
    * lineitem keys hash-bucketed into `bucket=k%8` partition dirs with
    * each bucket repartitioned to a single task, so the dir holds
    * exactly one file per bucket and file grain == bucket grain — which
    * is what lets the file-level stats (grouped by the REAL
    * `input_file_name()`, not the bucket column) be oracled from the
    * logical table: the twin recomputes the same stats from the k%8
    * rule. A real deployment points this at any partitioned table and
    * reads the same audit, minus the oracle.
    */
  def dqLayout(s: SparkSession, d: String): DataFrame = {
    val dir = graft.sources.SourceQueries.scratch(d, "lineitem_bucketed")
    graft.sources.Staging.once(s, dir, "v1", Seq(s"$d/lineitem.parquet")) {
      lineitem(s, d).select(col("l_orderkey"),
          pmod(col("l_orderkey"), lit(8)).as("bucket"))
        .repartition(8, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      Nil
    }
    // Explicit schema (not inference): an EMPTY corpus stages a dir with
    // zero data files, where schema inference throws but a declared
    // schema correctly yields the empty audit.
    val perFile = s.read.schema("l_orderkey BIGINT, bucket INT")
      .parquet(dir)
      .groupBy(col("bucket").cast("long").as("bucket"),
        input_file_name().as("file"))
      .agg(count(lit(1)).as("file_rows"),
        countDistinct(col("l_orderkey")).as("file_keys"),
        min("l_orderkey").as("key_min"), max("l_orderkey").as("key_max"))
    // Bucket grain == file grain by construction; the second agg both
    // collapses to the 8-row audit frame and COUNTS the files (if a
    // future staging writes N files per bucket, n_files reports it —
    // the metric stays honest, only the oracle's 1-file assumption
    // would flag).
    val perBucket = perFile.groupBy("bucket")
      .agg(count(lit(1)).as("n_files"), sum("file_rows").as("n_rows"),
        sum("file_keys").as("keys"),
        min("key_min").as("key_min"), max("key_max").as("key_max"))
    val w = Window.partitionBy()
    perBucket
      .withColumn("gmin", min("key_min").over(w))
      .withColumn("gmax", max("key_max").over(w))
      .select(col("bucket"), col("n_files"), col("n_rows"), col("keys"),
        col("key_min"), col("key_max"),
        round((col("key_max") - col("key_min")).cast("double")
          / (col("gmax") - col("gmin")).cast("double"), 6)
          .as("span_frac"))
      .orderBy("bucket")
  }

  val oracle: Map[String, String] = Map(
    // Each edge: child collapsed to (fk, cnt), parent to its pk set,
    // FULL JOIN, one conditional-count agg — integers end-to-end, the
    // one ratio an exact rational rounded 6. Sums cast BIGINT (DuckDB
    // sum(BIGINT) is HUGEINT; the driver hash is type-sensitive).
    "q_dq_referential" -> {
      def edge(name: String, child: String, fk: String, parent: String,
               pk: String) =
        s"""SELECT '$name' AS edge,
           |  CAST(coalesce(sum(CASE WHEN cnt IS NOT NULL THEN cnt END), 0)
           |    AS BIGINT) AS child_rows,
           |  CAST(count(CASE WHEN fk IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS child_keys,
           |  CAST(coalesce(sum(CASE WHEN fk IS NULL AND pk IS NULL
           |    THEN cnt END), 0) AS BIGINT) AS null_fk,
           |  CAST(coalesce(sum(CASE WHEN fk IS NOT NULL AND pk IS NULL
           |    THEN cnt END), 0) AS BIGINT) AS orphan_rows,
           |  CAST(count(CASE WHEN pk IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS parent_rows,
           |  CAST(count(CASE WHEN fk IS NOT NULL AND pk IS NOT NULL
           |    THEN 1 END) AS BIGINT) AS parents_hit,
           |  CASE WHEN count(CASE WHEN pk IS NOT NULL THEN 1 END) > 0
           |    THEN round(CAST(count(CASE WHEN fk IS NOT NULL
           |        AND pk IS NOT NULL THEN 1 END) AS DOUBLE)
           |      / CAST(count(CASE WHEN pk IS NOT NULL THEN 1 END)
           |        AS DOUBLE), 6) END AS coverage,
           |  CAST(coalesce(max(CASE WHEN fk IS NOT NULL THEN cnt END), 0)
           |    AS BIGINT) AS max_fanout
           |FROM (SELECT CAST($fk AS BIGINT) AS fk,
           |        CAST(count(*) AS BIGINT) AS cnt
           |      FROM $child GROUP BY 1) ck
           |FULL JOIN (SELECT DISTINCT CAST($pk AS BIGINT) AS pk
           |           FROM $parent) pp ON ck.fk = pp.pk""".stripMargin
      Seq(
        edge("customer.nation", "customer", "c_nationkey", "nation",
          "n_nationkey"),
        edge("lineitem.orders", "lineitem", "l_orderkey", "orders",
          "o_orderkey"),
        edge("lineitem.part", "lineitem", "l_partkey", "part",
          "p_partkey"),
        edge("lineitem.supplier", "lineitem", "l_suppkey", "supplier",
          "s_suppkey"),
        edge("nation.region", "nation", "n_regionkey", "region",
          "r_regionkey"),
        edge("orders.customer", "orders", "o_custkey", "customer",
          "c_custkey"),
        edge("supplier.nation", "supplier", "s_nationkey", "nation",
          "n_nationkey")
      ).map(q => s"($q)").mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    },
    // The staged layout guarantees file grain == k%8 bucket grain, so
    // the file-level stats re-derive from the bucket rule; n_files is
    // the 1 the one-task-per-bucket repartition pins (a multi-file
    // staging regression breaks THIS hash match — the oracle doubles as
    // the layout invariant).
    "q_dq_layout" ->
      """WITH b AS (
        |  SELECT l_orderkey % 8 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS keys,
        |    min(l_orderkey) AS key_min, max(l_orderkey) AS key_max
        |  FROM lineitem GROUP BY 1)
        |SELECT bucket, CAST(1 AS BIGINT) AS n_files, n_rows, keys,
        |  key_min, key_max,
        |  round(CAST(key_max - key_min AS DOUBLE)
        |    / CAST(max(key_max) OVER () - min(key_min) OVER ()
        |      AS DOUBLE), 6) AS span_frac
        |FROM b ORDER BY bucket""".stripMargin
  )
}
