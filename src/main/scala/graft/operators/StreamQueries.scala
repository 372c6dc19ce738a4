package graft.operators

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

import graft.streaming.EventStreams

/** Typed event row for the stateful operator (Dataset API + Encoder). */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Running per-user state carried by flatMapGroupsWithState. */
case class UserAgg(n_events: Long, sum_value: Double)

/** Structured Streaming operators (SURVEY §2.9) — the reference's actual
  * identity (`"streaming": True`, /root/reference/main.py:63), re-expressed
  * as incremental Spark queries.
  *
  * Unlike the SURVEY's minimum plan (batch twins oracled, streaming
  * rows-only), each declared query here EXECUTES a real streaming query —
  * file streaming source over events.parquet → incremental plan →
  * `Trigger.AvailableNow` → memory sink — and is still DuckDB-oracled,
  * because the chosen output modes make end-of-stream results equal the
  * batch answer:
  *   - stateless transforms (echo, dedup-by-unique-key) emit every row;
  *   - windowed aggregations run in Complete mode (no watermark-held
  *     tail windows);
  *   - the stateful query runs single-batch (one input file), so its
  *     Update-mode emission is the final state.
  * Watermark/late-data/multi-batch semantics — where streaming genuinely
  * diverges from batch — are exercised in StreamingSpec with MemoryStream
  * scripts, not here (SURVEY §5.4).
  *
  * Scale notes (100 TB): all aggregations key their state by
  * (window, event_type) or user_id — state is partitioned by the shuffle
  * on the group key and lives in the per-partition state store; Complete
  * mode is for the oracle harness only, production windows run Append +
  * watermark so state is evicted (StreamingSpec demonstrates exactly
  * that). */
object StreamQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_echo"     -> streamEcho _,
    "q_stream_tumbling" -> streamTumbling _,
    "q_stream_sliding"  -> streamSliding _,
    "q_stream_dedup"    -> streamDedup _,
    "q_stream_stateful" -> streamStateful _,
    "q_stream_stateful_tws" -> streamStatefulTws _,
    "q_stream_join"     -> streamJoin _,
    "q_stream_interval_join" -> streamIntervalJoin _,
    "q_stream_interval_left" -> streamIntervalLeft _,
    "q_stream_append_window" -> streamAppendWindow _,
    "q_stream_late"     -> streamLate _,
    "q_stream_foreach_batch" -> streamForeachBatch _,
    "q_stream_session"  -> streamSession _,
    "q_batch_session"   -> batchSession _,
    "q_stream_topk"     -> streamTopk _,
    "q_stream_merge_sink" -> streamMergeSink _,
    "q_stream_cdc_apply" -> streamCdcApply _,
    "q_stream_lsh_ingest" -> streamLshIngest _,
    "q_stream_dedup_watermark" -> streamDedupWatermark _,
    "q_stream_union"    -> streamUnion _,
    "q_stream_enrich"   -> streamEnrich _
  )

  lazy val oracle: Map[String, String] = Map(
    // Round-10 conversion: the stream's declared semantics ARE the
    // batch result — every delta doc's verdict depends only on that doc
    // and the BASE, so the streamed output is batch-boundary-independent
    // (ScaleOpsSpec pins stream ≡ batch row-for-row) and the
    // q_dedup_incremental_lsh twin applies verbatim, one source of
    // truth.
    "q_stream_lsh_ingest" ->
      SimilarityQueries.oracle("q_dedup_incremental_lsh"),
    // Round-10 conversion: the three-batch late-drop replay is a PURE
    // FUNCTION of the data (batch order pinned by modtimes), so the
    // declared result has a closed form — hour windows of the
    // newer-than-midpoint half whose end does not exceed the final
    // watermark (max event time, ms granularity, minus the 30-minute
    // delay); every older-half row arrives below the watermark and is
    // dropped at ingestion, exactly the behavior under test.
    "q_stream_late" ->
      """WITH r AS (
        |  SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
        |  FROM events),
        |b1 AS (
        |  SELECT e.event_type, epoch_us(e.ts) AS tus
        |  FROM events e, r WHERE epoch_us(e.ts) >= (r.lo + r.hi) // 2),
        |w AS (
        |  SELECT (tus // 3600000000) * 3600000000 AS ws, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM b1 GROUP BY 1, 2),
        |wmv AS (SELECT ((hi - 1800000000) // 1000) * 1000 AS wm_us FROM r)
        |SELECT ws AS window_start_us, event_type, n
        |FROM w, wmv WHERE ws + 3600000000 <= wm_us
        |ORDER BY window_start_us, event_type""".stripMargin,
    // Batch twin of the enriched streaming aggregate: the stream-static
    // join resolves each event against the same dimension snapshot the
    // batch join reads, and the keyed counts are batch-boundary-free.
    "q_stream_enrich" ->
      """SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        |  c.c_mktsegment, e.event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_stream_echo" ->
      """SELECT event_id, upper(event_type) AS event_type_up, value
        |FROM events ORDER BY event_id""".stripMargin,
    // Tumbling window starts surfaced as epoch micros: integer floor
    // arithmetic, identical in any engine (ts > 0 throughout).
    "q_stream_tumbling" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Every planted duplicate shares its original's event time, so it
    // arrives within any watermark and the kept set is exactly the
    // distinct ids — the dedup result is boundary-independent.
    "q_stream_dedup_watermark" ->
      """SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT)
        |    AS n_unique
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // The unioned two-source feed covers exactly the click+purchase
    // subset of the events table; window arithmetic as q_stream_tumbling.
    "q_stream_union" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Batch twin of the merged serving table: the MERGE combine is
    // associative (count/sum) + lexicographic (argmax by ts, event_id),
    // so the final state equals the one-shot aggregate regardless of
    // batch boundaries. Sum rounded 2dp (per-user double sums — the
    // q_stream_stateful precedent).
    "q_stream_merge_sink" ->
      """WITH l AS (
        |  SELECT user_id, value AS last_value, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY user_id)
        |SELECT g.user_id, g.n_events, g.sum_value,
        |  epoch_us(l.ts) AS last_ts_us, l.last_value
        |FROM g JOIN l ON g.user_id = l.user_id AND l.rn = 1
        |ORDER BY g.user_id""".stripMargin,
    // Same tumbling counts, then the per-window rank twin — integer
    // counts, deterministic (n DESC, event_type) ordering.
    "q_stream_topk" ->
      """WITH c AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 600000000
        |      AS window_start_us,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY window_start_us
        |      ORDER BY n DESC, event_type) AS rnk
        |  FROM c)
        |SELECT window_start_us, event_type, n, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY window_start_us, rnk""".stripMargin,
    // 10-min windows sliding by 5: every event lies in exactly two
    // windows — the 5-min bucket and the one 5 minutes earlier.
    "q_stream_sliding" ->
      """WITH w AS (
        |  SELECT unnest([
        |      epoch_us(ts) - epoch_us(ts) % 300000000 - 300000000,
        |      epoch_us(ts) - epoch_us(ts) % 300000000])
        |    AS window_start_us, event_type
        |  FROM events)
        |SELECT window_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q_stream_stateful" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Identical batch twin: the tws operator must be answer-identical to
    // the fgws one (the migration-is-mechanical contract).
    "q_stream_stateful_tws" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_join" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment, c.c_acctbal, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    // Stream-stream inner interval join: with the whole table in one
    // replay batch, every qualifying pair is present when the join runs,
    // so end-of-stream output equals the batch interval join — fully
    // oracled. Bounds compared in epoch-µs on both engines (Spark's ts is
    // ns-floored to µs by Tables/EventStreams; epoch_us floors the same
    // way on DuckDB's TIMESTAMP_NS).
    "q_stream_interval_join" ->
      """SELECT c.event_id AS c_id, p.event_id AS p_id, c.user_id,
        |  epoch_us(c.ts) AS c_ts_us, epoch_us(p.ts) AS p_ts_us
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
        |ORDER BY c_id, p_id""".stripMargin,
    // Left-outer twin with the deterministic eviction cut: unmatched
    // clicks appear only when the global watermark (min of the two
    // per-stream watermarks, ms-floored, - 30 min) passed their
    // interval end; a still-open click is retained in state, not
    // emitted (see [[streamIntervalLeft]]).
    "q_stream_interval_left" ->
      """WITH wm AS (
        |  SELECT least(
        |      (SELECT max(epoch_us(ts)) - max(epoch_us(ts)) % 1000
        |       FROM events WHERE event_type = 'click'),
        |      (SELECT max(epoch_us(ts)) - max(epoch_us(ts)) % 1000
        |       FROM events WHERE event_type = 'purchase'))
        |    - 1800000000 AS wm_us),
        |j AS (
        |  SELECT c.event_id AS c_id, p.event_id AS p_id, c.user_id,
        |    epoch_us(c.ts) AS c_ts_us, epoch_us(p.ts) AS p_ts_us
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON p.user_id = c.user_id
        |    AND epoch_us(p.ts) >= epoch_us(c.ts)
        |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000)
        |SELECT c_id, p_id, user_id, c_ts_us, p_ts_us
        |FROM j, wm
        |WHERE p_id IS NOT NULL OR c_ts_us + 600000000 < wm_us
        |ORDER BY c_id, p_id""".stripMargin,
    // Batch twin of the CDC-applied snapshot — VERBATIM q_cdc_snapshot
    // semantics (the compaction + merge are associative, so the
    // streamed result is batch-boundary-independent and the one-shot
    // changelog replay is its exact oracle).
    "q_stream_cdc_apply" ->
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
    // foreachBatch writes every micro-batch to parquet exactly once
    // (fresh sink dir + checkpoint per run), so the read-back equals the
    // full table — certifying no batch was lost or doubled.
    "q_stream_foreach_batch" ->
      """SELECT event_id, user_id, upper(event_type) AS event_type_up, value
        |FROM events ORDER BY event_id""".stripMargin,
    // Append-mode watermark semantics, deterministically: the final
    // watermark is max(event time, ms floor) - 30 min; only windows whose
    // end is at or before it are finalized and emitted. The SQL twin
    // applies the same cut.
    "q_stream_append_window" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY 1, 2
        |HAVING window_start_us + 3600000000 <=
        |  (SELECT (epoch_ms(max(ts)) - 1800000) * 1000 FROM events)
        |ORDER BY 1, 2""".stripMargin,
    // Append-mode streaming session windows: the same gaps-and-islands
    // twin as q_batch_session, cut to sessions FINALIZED under the final
    // watermark (max event time, ms floor, − 30 min) — only a session
    // whose end (last event + gap) is at or before it has been evicted
    // and emitted; later sessions are withheld in state.
    "q_stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  min(epoch_us(ts)) AS session_start_us,
        |  max(epoch_us(ts)) + 1800000000 AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |HAVING max(epoch_us(ts)) + 1800000000 <=
        |  (SELECT (epoch_ms(max(ts)) - 1800000) * 1000 FROM events)
        |ORDER BY user_id, session_start_us""".stripMargin,
    // Session windows as gaps-and-islands: a >30-min silence starts a new
    // session; session end = last event + gap (Spark session_window's
    // definition).
    "q_batch_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  min(epoch_us(ts)) AS session_start_us,
        |  max(epoch_us(ts)) + 1800000000 AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin
  )

  /** Unique memory-sink table per invocation (Verify/Bench may run a query
    * more than once in a session). */
  private val seq = new AtomicInteger

  /** Checkpoint root for the bounded-replay harness: tmpfs when available.
    * Every micro-batch commit fsyncs offset/commit logs plus one state
    * delta file per shuffle partition; on the throwaway replay checkpoint
    * that I/O is pure harness overhead (a production deployment points
    * `checkpointLocation` at durable storage — that knob stays with the
    * caller). */
  private val ckptRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toString
    else System.getProperty("java.io.tmpdir")
  }

  /** State fan-out for the bounded replay. State-store commit cost is
    * per-partition per-batch (provider init + delta file + fsync ×4
    * stores for a stream-stream join), so the short replay wants few
    * partitions — measured on the interval join at sf0.1: 32 parts
    * 6.7 s, 8 parts 2.8 s, 4 parts 2.2 s, 2 parts 2.25 s (the floor is
    * fixed per-batch cost, not state work). A production cluster sizes
    * `spark.sql.shuffle.partitions` to its core count instead — state
    * keyed by (window, event_type) / user_id partitions the same way at
    * any fan-out. */
  private val replayStateParts = "4"

  /** Run an unbounded frame to completion: AvailableNow trigger → memory
    * sink → return the materialized table. Temp checkpoint, self
    * terminating — the streaming analogue of an action. */
  /** @param finalNoDataBatch whether the trailing NO-DATA micro-batch
    *   (the one AvailableNow runs after the last data batch so stateful
    *   operators can act on the advanced watermark) runs. Keep the
    *   default for any query whose OUTPUT depends on that batch — the
    *   left-outer interval join emits its null-extended rows there, the
    *   Append-mode session/window aggregates emit EVERYTHING there.
    *   Pass false only when every output row is emitted on arrival and
    *   the final batch would merely evict state into a checkpoint this
    *   harness deletes on the next line — profiled on the INNER
    *   interval join (round 11, StreamProf): the no-data batch is
    *   ~0.7 s of a 2.4 s replay (state-store commit ×4 stores ×4
    *   partitions + plan re-execution) spent evicting state nobody
    *   will ever read. A production continuous deployment keeps
    *   no-data batches ON — eviction is what bounds its state; this
    *   knob is strictly a bounded-replay-harness economy. */
  private def runToTable(df: DataFrame, mode: OutputMode,
      finalNoDataBatch: Boolean = true): DataFrame = {
    val s = df.sparkSession
    val name = s"graft_stream_${seq.incrementAndGet()}"
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(ckptRoot), "graft-ckpt-")
    try withConf(s,
        "spark.sql.shuffle.partitions" -> replayStateParts,
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          finalNoDataBatch.toString) {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    // `table` resolves the view to the sink's plan EAGERLY (Dataset
    // construction analyzes), so the catalog entry can be dropped here:
    // the returned DataFrame owns the materialized rows and releases
    // them with its last reference. Without the drop, every invocation
    // leaked one driver-held result table for the session's lifetime —
    // 22 streaming queries × 5 bench sweeps ≈ 110 tables (up to 16 k
    // rows each) by pass 3, the round-7 pass-over-pass drift.
    val out = df.sparkSession.table(name)
    s.catalog.dropTempView(name)
    out
  }

  /** Run `body` with session confs overridden, then restore each key as
    * found: a key the session had not set is unset again, not pinned to
    * the default value `conf.get` reports for it. */
  private def withConf[T](s: SparkSession, overrides: (String, String)*)(
      body: => T): T = {
    val explicit = s.conf.getAll
    val prior = overrides.map { case (k, _) => k -> explicit.get(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Best-effort recursive delete of a throwaway replay checkpoint (they
    * live on tmpfs when available — leaking them across a long session
    * fills RAM). The walk stream must be closed or its directory handles
    * leak until GC. */
  private def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: java.io.IOException => () }

  /** The reference's intended pipeline (SURVEY §0.1): Kafka-shaped source →
    * elementwise transform → sink. Events are wrapped into the Kafka record
    * schema, the value payload is parsed back (`json.loads`, main.py:71),
    * and the transform (`beam.Map`, main.py:109) uppercases the type. */
  def streamEcho(s: SparkSession, d: String): DataFrame = {
    val records = EventStreams.asKafkaRecords(EventStreams.fileStream(s, d))
    val parsed = records
      .select(from_json(col("value").cast("string"),
        EventStreams.valueSchema).as("e"))
      .select(col("e.event_id").as("event_id"),
        upper(col("e.event_type")).as("event_type_up"),
        col("e.value").as("value"))
    runToTable(parsed, OutputMode.Append()).orderBy("event_id")
  }

  /** Per-type counts in 10-minute tumbling windows. */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    val agg = EventStreams.fileStream(s, d)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, OutputMode.Complete())
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type")
  }

  /** Trending top-3 event types per 10-min tumbling window — the
    * "trending now" serving shape. The STREAM does the heavy lifting
    * incrementally (windowed counts, Complete mode); the rank runs over
    * the aggregated output, whose size is windows × event types —
    * corpus-independent — so the per-window `row_number` sort is over a
    * handful of rows per partition key. In production this second step
    * is the per-trigger `foreachBatch → rank → serve` pattern
    * (q_stream_foreach_batch wires that machinery); rank order is
    * deterministic: n DESC, then event_type. */
  def streamTopk(s: SparkSession, d: String): DataFrame = {
    val agg = EventStreams.fileStream(s, d)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val counts = runToTable(agg, OutputMode.Complete())
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
    val w = Window.partitionBy("window_start_us")
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("window_start_us", "rnk")
  }

  /** Incremental materialized-view maintenance — the `foreachBatch`
    * MERGE pattern that replaces recomputing a corpus-scale aggregate:
    * each micro-batch reduces to a per-user partial (count, sum,
    * argmax-by-(ts, event_id) latest value) and is MERGEd into a
    * versioned serving table by a full-outer combine. The combine is
    * ASSOCIATIVE (count/sum add; argmax takes the lexicographically
    * greater (ts, id) struct), so the final state is independent of
    * batch boundaries — which is what makes the query fully oracled
    * against the one-shot batch aggregate. Two event-time-half
    * micro-batches (modtime-pinned, `maxFilesPerTrigger=1`) exercise a
    * real cross-batch merge, not a degenerate single batch.
    *
    * Scale shape: per batch, one map-side-combined agg over the DELTA
    * plus one full-outer equi-join against the serving table keyed by
    * user_id — cost scales with delta + |table|, never the history; at
    * 100 TB the serving table is bucketed by the merge key
    * (q_join_bucketed's layout) so only the delta shuffles. Versioned
    * dirs stand in for a table format's transactional commit. */
  def streamMergeSink(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.sources.SourceQueries.scratch(d, "merge_table")
    val ev = graft.Tables.events(s, d)
    val base = stagedReplaySlices(s, d, "merge_stream",
      Seq(s"$d/events.parquet"))(eventsMidpointSlices(ev))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
    val stream = s.readStream.schema(ev.schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$base/b*")
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(ckptRoot), "graft-ckpt-")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val up = batch.groupBy("user_id").agg(
            count(lit(1)).as("n_events"),
            sum(col("value")).as("sum_value"),
            max(struct(col("ts").as("ts"), col("event_id").as("id"),
              col("value").as("v"))).as("last"))
          val merged =
            if (batchId == 0) up
            else {
              val prev = batch.sparkSession.read
                .parquet(s"$tbl/v=${batchId - 1}")
              prev.as("t").join(up.as("u"), Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  (coalesce(col("t.n_events"), lit(0L)) +
                    coalesce(col("u.n_events"), lit(0L))).as("n_events"),
                  (coalesce(col("t.sum_value"), lit(0.0)) +
                    coalesce(col("u.sum_value"), lit(0.0))).as("sum_value"),
                  when(col("u.last").isNull, col("t.last"))
                    .when(col("t.last").isNull, col("u.last"))
                    .when(col("t.last") > col("u.last"), col("t.last"))
                    .otherwise(col("u.last")).as("last"))
            }
          merged.write.mode("overwrite").parquet(s"$tbl/v=$batchId")
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    val latest = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.drop(2).toLong).max
    s.read.parquet(s"$tbl/v=$latest")
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"),
        unix_micros(col("last.ts")).as("last_ts_us"),
        col("last.v").as("last_value"))
      .orderBy("user_id")
  }

  /** Streaming CDC apply — the incremental twin of
    * VersionQueries.cdcSnapshot: the event changelog replayed in
    * event-time-ordered micro-batches, each batch COMPACTED map-side to
    * its per-key latest version (one max(struct) per key over the
    * delta), then merged into the keyed snapshot table by taking the
    * greater version struct and summing version counts. Both steps are
    * ASSOCIATIVE, so the final snapshot is independent of batch
    * boundaries — which is what lets this stream query share
    * q_cdc_snapshot's exact batch oracle. Tombstones (`error`) are kept
    * IN the state and filtered only at read time: a tombstone must
    * survive merges so a later batch's earlier-versioned upsert cannot
    * resurrect the key (the classic CDC compaction subtlety).
    *
    * Scale shape: per batch, one map-side-combined agg over the DELTA +
    * one full-outer equi-join against the snapshot keyed by user_id —
    * cost scales with delta + |table|; at 100 TB the snapshot is
    * bucketed by the key so only the delta shuffles (q_join_bucketed's
    * layout), and the versioned dirs stand in for a table format's
    * transactional commit. */
  def streamCdcApply(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.sources.SourceQueries.scratch(d, "cdc_table")
    val ev = graft.Tables.events(s, d)
    val base = stagedReplaySlices(s, d, "cdc_stream",
      Seq(s"$d/events.parquet"))(eventsMidpointSlices(ev))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
    val stream = s.readStream.schema(ev.schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$base/b*")
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(ckptRoot), "graft-ckpt-")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val up = batch.groupBy("user_id").agg(
            max(struct(
              unix_micros(col("ts")).as("v1"), col("event_id").as("v2"),
              col("event_type").as("t"), col("value").as("v"))).as("m"),
            count(lit(1)).as("n_versions"))
          val merged =
            if (batchId == 0) up
            else {
              val prev = batch.sparkSession.read
                .parquet(s"$tbl/v=${batchId - 1}")
              prev.as("t").join(up.as("u"), Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  when(col("u.m").isNull, col("t.m"))
                    .when(col("t.m").isNull, col("u.m"))
                    .when(col("t.m") > col("u.m"), col("t.m"))
                    .otherwise(col("u.m")).as("m"),
                  (coalesce(col("t.n_versions"), lit(0L)) +
                    coalesce(col("u.n_versions"), lit(0L)))
                    .as("n_versions"))
            }
          merged.write.mode("overwrite").parquet(s"$tbl/v=$batchId")
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    val latest = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.drop(2).toLong).max
    s.read.parquet(s"$tbl/v=$latest")
      .filter(col("m.t") =!= "error")
      .select(col("user_id"), col("m.t").as("last_type"),
        col("m.v").as("last_value"), col("n_versions"))
      .orderBy("user_id")
  }

  /** Streaming near-dup ingest gate — the production shape the staged
    * LSH layout exists FOR: documents arrive as micro-batches of raw
    * text; each batch shingles and bands MAP-SIDE (delta-sized, no
    * corpus work) and runs the batch gate
    * [[SimilarityQueries.gateVerdicts]] on its own band rows and sets
    * against the staged base (the signature store
    * [[SimilarityQueries.lshLayout]] maintains), appending the verdicts.
    * Every delta doc's verdict depends only on that doc and the BASE, so
    * the result is batch-boundary-independent: ScaleOpsSpec pins it
    * equal to the batch twin `q_dedup_incremental_lsh` row-for-row, and
    * that twin's oracle applies verbatim. Per micro-batch cost is
    * delta-bands × colliding base buckets + verify joins keyed by
    * doc_id; only the delta ever shuffles. */
  def streamLshIngest(s: SparkSession, d: String): DataFrame = {
    val outDir = graft.sources.SourceQueries.scratch(d, "lsh_ingest_out")
    val delta = graft.Tables.documents(s, d)
      .filter(col("doc_id") % 4 === 0).select("doc_id", "text")
    // Two micro-batches split at the median delta id, modtime-ordered
    // (the q_stream_merge_sink replay convention).
    val base = stagedReplaySlices(s, d, "lsh_ingest_stream",
      Seq(s"$d/documents.parquet")) { root =>
      val mid = delta.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      delta.filter(col("doc_id") <= mid).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/b1")
      delta.filter(col("doc_id") > mid).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/b2")
    }
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(outDir))
    val stream = s.readStream.schema(delta.schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$base/b*")
    def gate(ss: SparkSession, docs: DataFrame): DataFrame = {
      val sets = SimilarityQueries.docSets(docs)
      SimilarityQueries.gateVerdicts(ss, d,
        SimilarityQueries.bandRowsOf(sets), sets)
    }
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(ckptRoot), "graft-ckpt-")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          gate(batch.sparkSession, batch).write.mode("append")
            .parquet(outDir)
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    // Read back under the gate's own output schema (a batch that found
    // no near-dup may leave no file to infer it from).
    SimilarityQueries.admit(s, d,
      s.read.schema(gate(s, delta).schema).parquet(outDir))
  }

  /** Sliding windows: 10-minute width, 5-minute slide. */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    val agg = EventStreams.fileStream(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, OutputMode.Complete())
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type")
  }

  /** Streaming dedup on the unique event id — exercises the dedup state
    * store; output is deterministic because the key is unique.
    * (Watermarked dedup with real drops: StreamingSpec.) */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = EventStreams.fileStream(s, d)
      .select("event_id", "user_id", "event_type")
      .dropDuplicates("event_id")
    runToTable(deduped, OutputMode.Append()).orderBy("event_id")
  }

  /** Bounded-state streaming dedup — [[streamDedup]]'s production fix:
    * plain `dropDuplicates` keeps every key in state FOREVER (state
    * grows with the stream — the 100 TB outage), while
    * `dropDuplicatesWithinWatermark` evicts a key once the watermark
    * passes it, betting that re-deliveries arrive within the delay —
    * exactly the at-least-once-source contract (Kafka redelivers in
    * seconds, not days).
    *
    * The replay has no natural duplicates, so the feed PLANTS them: the
    * source unioned with its own event_id%5 sample — same ids, same
    * event times, the broker-redelivery shape. Every duplicate shares
    * its original's event time, so it lands within any watermark and
    * the kept set is exactly the distinct ids — fully oracled. */
  def streamDedupWatermark(s: SparkSession, d: String): DataFrame = {
    val base = EventStreams.fileStream(s, d)
      .select("event_id", "event_type", "ts")
    val redelivered = EventStreams.fileStream(s, d)
      .select("event_id", "event_type", "ts")
      .filter(col("event_id") % 5 === 0)
    val kept = base.unionByName(redelivered)
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    // Dedup emits every kept row ON ARRIVAL in the data batch; the
    // trailing no-data batch can only EVICT expired keys (it cannot
    // emit — profiled sink=0), so the throwaway replay skips it (see
    // runToTable's scaladoc; q_stream_interval_join precedent).
    runToTable(kept, OutputMode.Append(), finalNoDataBatch = false)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type")
  }

  /** Streaming multi-source union — the two-topic ingest shape: a
    * clicks stream and a purchases stream (two filtered reads of the
    * replay source standing in for two brokers) feed ONE windowed
    * aggregation. Union of unbounded frames is a stateless row
    * interleave (no state or shuffle of its own); the downstream agg
    * maintains counts across BOTH sources, batch-boundary-independent
    * and fully oracled by the batch twin. */
  def streamUnion(s: SparkSession, d: String): DataFrame = {
    val clicks = EventStreams.fileStream(s, d)
      .filter(col("event_type") === "click")
    val purchases = EventStreams.fileStream(s, d)
      .filter(col("event_type") === "purchase")
    val agg = clicks.unionByName(purchases)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, OutputMode.Complete())
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type")
  }

  /** Stream-STATIC dimension enrichment — the production lookup-join
    * shape every event pipeline runs (clickstream × customer dimension):
    * the unbounded stream joins a bounded dimension table, then
    * aggregates on the ENRICHED attributes (state keyed by nation ×
    * segment × type, not by raw user — the classic "rollup to the
    * dimension grain" pattern).
    *
    * Scale semantics: Structured Streaming re-resolves the static side
    * EVERY micro-batch (the slowly-changing-dimension refresh property —
    * a dim update is picked up at the next trigger without restarting
    * the query), and the explicit `broadcast` keeps the stream side
    * shuffle-free through the join — the only stateful shuffle is the
    * keyed aggregate, whose cardinality is dimension-grain (25 nations ×
    * 5 segments × types), corpus-independent. Fully oracled: the
    * dimension snapshot is the same table the batch twin joins, and
    * keyed counts are batch-boundary-free. */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val agg = EventStreams.fileStream(s, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, OutputMode.Complete())
      .orderBy("c_nationkey", "c_mktsegment", "event_type")
  }

  /** Custom per-key state: running count/sum per user via typed
    * flatMapGroupsWithState (the Beam per-key-state analogue). Single
    * input file ⇒ single micro-batch ⇒ the Update-mode emission is the
    * final state. */
  def streamStateful(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val events = EventStreams.fileStream(s, d).as[Event]
    val updated = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(0L, 0.0))
          val next = it.foldLeft(prev) { (acc, e) =>
            UserAgg(acc.n_events + 1, acc.sum_value + e.value)
          }
          state.update(next)
          Iterator((uid, next))
      }
    runToTable(updated.toDF("user_id", "agg"), OutputMode.Update())
      .select(col("user_id"), col("agg.n_events").as("n_events"),
        round(col("agg.sum_value"), 2).as("sum_value"))
      .orderBy("user_id")
  }

  /** The same per-user running aggregate on Spark 4's
    * `transformWithState` — the modern stateful API (typed composable
    * ValueState/ListState/MapState + timers behind a StatefulProcessor,
    * RocksDB-backed BY DESIGN) declared as a first-class query next to
    * the `flatMapGroupsWithState` original, oracled against the same
    * batch twin. Why both exist: fgws is the widely-deployed API this
    * engine must match; tws is where production state management is
    * going (off-heap RocksDB state survives executor-heap pressure — the
    * first casualty of the on-heap HDFSBacked store at production state
    * sizes), and keeping the two declared queries answer-identical pins
    * the migration as a mechanical swap. The provider override lives
    * only for the duration of the run and is restored after. */
  def streamStatefulTws(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")) {
      val events = EventStreams.fileStream(s, d).as[Event]
      val updated = events
        .groupByKey(_.user_id)
        .transformWithState(
          new StatefulProcessor[Long, Event, (Long, Long, Double)] {
            @transient private var st: ValueState[UserAgg] = _
            override def init(outputMode: OutputMode,
                timeMode: TimeMode): Unit =
              st = getHandle.getValueState[UserAgg]("agg",
                Encoders.product[UserAgg], TTLConfig.NONE)
            override def handleInputRows(uid: Long, rows: Iterator[Event],
                timers: TimerValues): Iterator[(Long, Long, Double)] = {
              val prev = if (st.exists()) st.get() else UserAgg(0L, 0.0)
              val next = rows.foldLeft(prev) { (acc, e) =>
                UserAgg(acc.n_events + 1, acc.sum_value + e.value)
              }
              st.update(next)
              Iterator((uid, next.n_events, next.sum_value))
            }
          },
          TimeMode.None(), OutputMode.Update())
      runToTable(updated.toDF("user_id", "n_events", "sum_value"),
        OutputMode.Update())
        .select(col("user_id"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("user_id")
    }
  }

  /** Stream-static join: the unbounded event stream enriched against the
    * bounded customer dimension. The static side is broadcast — the
    * stream is never shuffled, so at 100 TB/day of events the join adds
    * zero exchange to the incremental plan (the dimension re-broadcasts
    * per micro-batch, which is what keeps it consistent under dim
    * updates). */
  def streamJoin(s: SparkSession, d: String): DataFrame = {
    val enriched = EventStreams.fileStream(s, d)
      .join(broadcast(graft.Tables.customer(s, d)),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        col("c_acctbal"), col("value"))
    runToTable(enriched, OutputMode.Append()).orderBy("event_id")
  }

  /** The shared b1/b2 builder for the event-table replays (merge sink
    * and CDC apply stage the SAME slices under different tags): split
    * at the midpoint of the event-time range, one file per slice so
    * `maxFilesPerTrigger=1` gives exactly two micro-batches. */
  private def eventsMidpointSlices(ev: DataFrame)(root: String): Unit = {
    val r = ev.agg(unix_micros(min(col("ts"))).as("lo"),
      unix_micros(max(col("ts"))).as("hi")).head()
    val split = timestamp_micros(lit((r.getLong(0) + r.getLong(1)) / 2))
    ev.filter(col("ts") < split).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/b1")
    ev.filter(col("ts") >= split).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/b2")
  }

  /** Stage a multi-micro-batch replay source ONCE per corpus (the
    * [[intervalStreams]] discipline, round 10 extended to the b*
    * replays): the slices are a deterministic ingest-time artifact of
    * the input table alone, so re-deriving them on every invocation
    * re-paid one driver action plus a write job per slice. `build`
    * writes `$root/<slice>` for each of `slices`; their modtimes are
    * then pinned oldest-first in list order, so the file source's
    * oldest-first listing replays them in that order on every read. */
  private def stagedReplaySlices(s: SparkSession, d: String, tag: String,
      inputs: Seq[String], slices: Seq[String] = Seq("b1", "b2"))
      (build: String => Unit): String = {
    import graft.sources.{SourceQueries, Staging}
    val root = SourceQueries.scratch(d, tag)
    Staging.once(s, root, "v2", inputs) {
      build(root)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val now = System.currentTimeMillis()
      for ((sub, i) <- slices.zipWithIndex;
           st <- fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$sub"))
             if st.getPath.getName.endsWith(".parquet"))
        fs.setTimes(st.getPath, now - (slices.size - i) * 60000L, -1)
      Nil
    }
    root
  }

  /** The two watermarked interval-join streams shared by the inner and
    * left-outer declared queries, each read from a STAGED pre-split
    * parquet ([[graft.sources.Staging.once]]): built inline, each
    * invocation re-scanned and re-filtered the full events file once
    * per side — four full scans across the query pair, the
    * bench's #1 cost (6.2 s median for the left join alone). The split
    * is an ingest-time artifact of the event-time data alone, so it is
    * staged once per corpus — exactly what a production deployment does
    * when it routes one firehose into per-type topics — and each replay
    * reads only its own slice. One file per side keeps the documented
    * single-micro-batch replay semantics. */
  private def intervalStreams(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import graft.sources.{SourceQueries, Staging}
    import org.apache.spark.sql.types._
    val root = SourceQueries.scratch(d, "interval_streams")
    Staging.once(s, root, "v2", Seq(s"$d/events.parquet")) {
      val ev = graft.Tables.events(s, d)
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          col("ts").as("c_ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/clicks")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/purchases")
      Nil
    }
    // The staged files were written from the ALREADY-normalized events
    // frame (Tables.events resolved the footer variance at stage time),
    // so both stream schemas are plain micro-precision timestamps.
    def side(sub: String, idCol: String, userCol: String,
        tsCol: String): DataFrame =
      s.readStream
        .schema(StructType(Seq(StructField(idCol, LongType),
          StructField(userCol, LongType),
          StructField(tsCol, TimestampType))))
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$root/$sub")
        .withWatermark(tsCol, "30 minutes")
    (side("clicks", "c_id", "user_id", "c_ts"),
      side("purchases", "p_id", "p_user", "p_ts"))
  }

  private val intervalCond =
    col("user_id") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES")

  /** Stream-stream watermarked interval join (Append): the click stream
    * correlated with the purchase stream per user, keeping pairs where
    * the purchase lands within [click, click + 10 min] — the canonical
    * attribution/correlation shape.
    *
    * Bounded state at any scale: BOTH sides carry a 30-min watermark and
    * the join condition bounds both event times against each other, so
    * Spark can evict a buffered click once the global watermark passes
    * click.ts + 10 min (no purchase can ever match it again) and a
    * buffered purchase once it passes purchase.ts — each side's join
    * state is a sliding horizon, not the whole stream. State lives behind
    * the shuffle on user_id; the time-range predicate is evaluated
    * per-key. Deterministically oracled: the single-file replay runs as
    * one micro-batch, so every qualifying pair is present when the inner
    * join executes and end-of-stream output equals the batch interval
    * join (the watermark affects only state retention, never which INNER
    * matches emit). Cross-batch match + state-eviction semantics are
    * exercised in StreamingSpec's two-MemoryStream script. */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val (clicks, purchases) = intervalStreams(s, d)
    val joined = clicks.join(purchases, intervalCond)
    // INNER join: every output row emits on match in the data batch;
    // the trailing no-data batch only evicts throwaway state — skipped
    // (see runToTable's scaladoc; the LEFT variant keeps it, its
    // null-extensions emit there).
    runToTable(joined, OutputMode.Append(), finalNoDataBatch = false)
      .select(col("c_id"), col("p_id"), col("user_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
      .orderBy("c_id", "p_id")
  }

  /** LEFT OUTER watermarked interval join, declared and fully oracled —
    * the completion semantics StreamingSpec scripts batch-by-batch,
    * here driven to end-of-stream: a matched click emits on match
    * (inner semantics); an UNMATCHED click null-extends only at state
    * EVICTION, when the global watermark (min of the two stream
    * watermarks) passes its interval end and "no match can ever arrive"
    * becomes provable. Clicks whose interval is still open at
    * end-of-stream are retained in state, never emitted — so the
    * deterministic oracle cut is: matched rows, plus unmatched rows with
    * c_ts + 10 min < min(max click ts, max purchase ts)ms-floor − 30 min.
    * Bounded state on both sides, same as the inner join. */
  def streamIntervalLeft(s: SparkSession, d: String): DataFrame = {
    val (clicks, purchases) = intervalStreams(s, d)
    val joined = clicks.join(purchases, intervalCond, "left_outer")
    runToTable(joined, OutputMode.Append())
      .select(col("c_id"), col("p_id"), col("user_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
      .orderBy("c_id", "p_id")
  }

  /** Append-mode tumbling windows under a 30-minute watermark: unlike the
    * Complete-mode twins above, this emits ONLY finalized windows — state
    * for a window is evicted (and the row emitted) once the watermark
    * passes its end; windows still open at end-of-stream are withheld.
    * Deterministic because the final watermark is a pure function of the
    * data (max event time - 30 min), so the oracle can apply the same
    * cut. This is the production shape for streaming aggregation (bounded
    * state); the no-data final micro-batch that AvailableNow runs is what
    * flushes the last finalized windows. */
  def streamAppendWindow(s: SparkSession, d: String): DataFrame = {
    val agg = EventStreams.fileStream(s, d)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, OutputMode.Append())
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type")
  }

  /** Watermark late-drop made driver-visible: the events table is
    * replayed as
    * THREE micro-batches — the newer half, an empty flush batch, then the
    * older half arriving late.
    *
    * Why three, not two: a late row is dropped only when its window's
    * state was ALREADY EVICTED in an earlier batch; eviction runs with
    * the start-of-batch watermark, and a straggler landing in the same
    * batch that first carries the high watermark is merged into
    * still-live state and finalized WITH it (measured — MemoryStream
    * scripts don't hit this because processAllAvailable interleaves
    * no-data micro-batches that flush eviction between data batches,
    * while AvailableNow does not). Batch 1 raises the watermark to
    * max(ts)−30min; the empty batch 2 lets eviction finalize and emit
    * batch 1's windows under that watermark; batch 3's stragglers then
    * find their windows evicted and are dropped. The result — finalized
    * windows of the newer half only — is a pure function of the data
    * (batch order pinned by file modification times +
    * maxFilesPerTrigger=1), and intentionally NOT the batch answer: the
    * missing late rows are the behavior under test. Because the batch
    * order is pinned, the result has a CLOSED FORM and a hash-matched
    * oracle since round 10 (newer-half hour windows under the final
    * watermark); StreamingSpec keeps the mechanism-level assertions. */
  def streamLate(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    // Split at the midpoint of the event-time range; each slice lands in
    // one file (coalesce(1)) so maxFilesPerTrigger=1 gives exactly three
    // micro-batches, staged once per corpus (stagedReplaySlices pins the
    // b1 < b2 < b3 modtime order). Harness-side setup, not the plan.
    val base = stagedReplaySlices(s, d, "late_stream",
      Seq(s"$d/events.parquet"), Seq("b1", "b2", "b3")) { root =>
      val r = ev.agg(unix_micros(min(col("ts"))).as("lo"),
        unix_micros(max(col("ts"))).as("hi")).head()
      val split = timestamp_micros(lit((r.getLong(0) + r.getLong(1)) / 2))
      ev.filter(col("ts") >= split).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/b1")
      ev.filter(lit(false)).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/b2")
      ev.filter(col("ts") < split).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/b3")
    }
    val stream = s.readStream
      .schema(ev.schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$base/b*")
    val agg = stream
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, OutputMode.Append())
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type")
  }

  /** The `foreachBatch` sink — the production escape hatch for writing a
    * stream to any batch-capable target (parquet here; Kafka, JDBC, a
    * Delta merge in deployments). Each micro-batch lands via an ordinary
    * batch write, and exactly-once over retries comes from writing
    * idempotently w.r.t. `batchId` (a partition-by-batchId overwrite, a
    * txn keyed on it) against the checkpoint's replay ledger. This run
    * writes exactly that shape — `mode("overwrite")` into a
    * `batch=<batchId>` partition directory, so a replayed batch lands on
    * its own path and replaces itself — and clears the sink dir up front
    * (the scratch tree outlives the JVM; a per-session counter alone
    * collided with a previous run's files and doubled the read-back).
    * The oracle then certifies no batch was lost or doubled. */
  def streamForeachBatch(s: SparkSession, d: String): DataFrame = {
    // One fixed sink name per SF dir: the upfront delete makes reruns
    // (same or different JVM) idempotent, and nothing accumulates.
    val out = graft.sources.SourceQueries.scratch(d, "foreach_sink")
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath)) fs.delete(outPath, true)
    val transformed = EventStreams.fileStream(s, d)
      .select(col("event_id"), col("user_id"),
        upper(col("event_type")).as("event_type_up"), col("value"))
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(ckptRoot), "graft-ckpt-")
    try {
      val q = transformed.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    s.read.parquet(out)
      .select("event_id", "user_id", "event_type_up", "value")
      .orderBy("event_id")
  }

  /** Streaming session windows (30-minute gap) per user, Append mode
    * under a 30-minute watermark — the production shape for sessionization
    * (bounded state: a session's state lives only until the watermark
    * passes its end, then is merged-final, emitted, and evicted). The
    * single data batch merges all of a user's events into their sessions;
    * AvailableNow's final no-data batch then flushes every session whose
    * end (last event + gap) is at or before the final watermark
    * (max event time − 30 min) — a pure function of the data, so the
    * gaps-and-islands SQL twin applies the same cut and the query is
    * fully oracled (q_batch_session gives the uncut batch answer;
    * StreamingSpec's MemoryStream script covers multi-batch merge/split
    * across batch boundaries). */
  def streamSession(s: SparkSession, d: String): DataFrame = {
    val agg = EventStreams.fileStream(s, d)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    runToTable(agg, OutputMode.Append())
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start_us")
  }

  /** Session windows (30-minute gap) per user — batch execution of the
    * same session_window operator the streaming variant uses
    * (StreamingSpec runs it incrementally with a watermark; here batch
    * mode gives the oracle-comparable full answer, since Append-mode
    * streaming necessarily holds back sessions still open at the final
    * watermark). */
  def batchSession(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start_us")
}
