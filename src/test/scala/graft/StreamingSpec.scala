package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Event

/** Watermark / state / late-data semantics with explicit multi-batch
  * MemoryStream scripts (SURVEY §5.4, §7.3.2) — the behaviors where
  * streaming genuinely diverges from batch, which the declared
  * oracle-checked streaming queries deliberately avoid. Never wall-clock:
  * every batch boundary is an explicit processAllAvailable(). */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, uid: Long = 1L,
      typ: String = "click", v: Double = 1.0): Event =
    Event(id, ts(t), uid, typ, v, "{}")

  private var nameSeq = 0
  private def startToMemory(df: DataFrame, mode: OutputMode)
      : (StreamingQuery, String) = {
    nameSeq += 1
    val name = s"stream_spec_$nameSeq"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    (q, name)
  }

  test("tumbling windows finalize when the watermark passes (append mode)") {
    import spark.implicits._
    val ms = MemoryStream[Event](org.apache.spark.sql.Encoders.product[Event], spark)
    val agg = ms.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes")).count()
    val (q, name) = startToMemory(agg, OutputMode.Append())
    try {
      // Batch 1: two events in the 10:00 window. Nothing can finalize yet.
      ms.addData(ev(1, "2024-01-01 10:01:00"), ev(2, "2024-01-01 10:04:00"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0,
        "window emitted before watermark passed")
      // Batch 2: event at 10:30 → watermark 10:25 > 10:10 → first window out.
      ms.addData(ev(3, "2024-01-01 10:30:00"))
      q.processAllAvailable()
      // Watermark from batch 2's max event time applies to batch 3; an
      // empty nudge batch lets the finalized window flush.
      ms.addData(ev(4, "2024-01-01 10:31:00"))
      q.processAllAvailable()
      val out = spark.table(name)
        .select(col("window.start").cast("string"), col("count")).collect()
      assert(out.length === 1)
      assert(out.head.getString(0).startsWith("2024-01-01 10:00"))
      assert(out.head.getLong(1) === 2L)
    } finally q.stop()
  }

  test("late event beyond the watermark is dropped (SURVEY q_stream_late)") {
    import spark.implicits._
    val ms = MemoryStream[Event](org.apache.spark.sql.Encoders.product[Event], spark)
    val agg = ms.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes")).count()
    val (q, name) = startToMemory(agg, OutputMode.Append())
    try {
      ms.addData(ev(1, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 11:00:00")) // watermark → 10:55
      q.processAllAvailable()
      // Late: 10:02 is far behind the 10:55 watermark → must not revive
      // or alter the already-finalized 10:00 window.
      ms.addData(ev(3, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 11:01:00")) // nudge
      q.processAllAvailable()
      val first = spark.table(name)
        .filter(col("window.start") === lit("2024-01-01 10:00:00")
          .cast("timestamp")).collect()
      assert(first.length === 1)
      assert(first.head.getAs[Long]("count") === 1L,
        "late event leaked into a finalized window")
    } finally q.stop()
  }

  test("session windows merge within gap and split across it") {
    import spark.implicits._
    val ms = MemoryStream[Event](org.apache.spark.sql.Encoders.product[Event], spark)
    val agg = ms.toDF()
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
    val (q, name) = startToMemory(agg, OutputMode.Append())
    try {
      // Two events 10 min apart (one session), then 40 min silence → split.
      ms.addData(ev(1, "2024-01-01 09:00:00"), ev(2, "2024-01-01 09:10:00"),
        ev(3, "2024-01-01 09:50:00"))
      q.processAllAvailable()
      // Advance watermark far past both sessions so they finalize.
      ms.addData(ev(4, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      ms.addData(ev(5, "2024-01-01 12:30:00"))
      q.processAllAvailable()
      val sessions = spark.table(name)
        .select(col("session_window.start").cast("string").as("s"),
          col("count"))
        .orderBy("s").collect()
      assert(sessions.length >= 2)
      assert(sessions(0).getString(0).startsWith("2024-01-01 09:00"))
      assert(sessions(0).getLong(1) === 2L, "first session must merge 2 events")
      assert(sessions(1).getString(0).startsWith("2024-01-01 09:50"))
      assert(sessions(1).getLong(1) === 1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops dupes, then forgets old keys") {
    import spark.implicits._
    val ms = MemoryStream[Event](org.apache.spark.sql.Encoders.product[Event], spark)
    val deduped = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val (q, name) = startToMemory(deduped, OutputMode.Append())
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:30"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 1, "in-batch duplicate survived")
      ms.addData(ev(1, "2024-01-01 10:05:00")) // within watermark → dropped
      q.processAllAvailable()
      assert(spark.table(name).count() === 1, "within-watermark dup survived")
      // Far later re-occurrence: state for key 1 has been evicted — the
      // bounded-state contract (exactly why this beats dropDuplicates at
      // 100 TB: state is watermark-bounded, not unbounded).
      ms.addData(ev(99, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      ms.addData(ev(1, "2024-01-01 12:00:30"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 3,
        "evicted key should re-admit after watermark horizon")
    } finally q.stop()
  }

  test("flatMapGroupsWithState event-time timeout emits a final record") {
    import spark.implicits._
    val ms = MemoryStream[Event](org.apache.spark.sql.Encoders.product[Event], spark)
    val out = ms.toDS()
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[Event], st: GroupState[Long]) => {
          if (st.hasTimedOut) {
            val n = st.get
            st.remove()
            Iterator((uid, n, true)) // final flush on timeout
          } else {
            // Timeout anchored to event time (not the watermark — during
            // batch 1 the watermark is still epoch 0 and a
            // watermark-anchored timeout would fire immediately).
            val events = it.toSeq
            val n = st.getOption.getOrElse(0L) + events.size
            st.update(n)
            st.setTimeoutTimestamp(events.map(_.ts.getTime).max + 60000)
            Iterator.empty
          }
        })
      .toDF("user_id", "n", "timed_out")
    val (q, name) = startToMemory(out, OutputMode.Append())
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", uid = 7),
        ev(2, "2024-01-01 10:00:30", uid = 7))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0)
      // Other-user event one hour later pushes the watermark past the
      // timeout timestamp → user 7's state times out and flushes.
      ms.addData(ev(3, "2024-01-01 11:00:00", uid = 8))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 11:30:00", uid = 8))
      q.processAllAvailable()
      val rows = spark.table(name)
        .filter(col("user_id") === 7).collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(1) === 2L && rows.head.getBoolean(2))
    } finally q.stop()
  }

  test("q_stream_late drops the straggler batch below the watermark") {
    // The declared three-batch replay (newer half, empty flush batch,
    // older half — the flush batch is load-bearing, see streamLate's doc)
    // must show real drops: its finalized windows carry fewer events than
    // the same watermark cut applied to the full batch answer
    // (q_stream_append_window's shape), because the final batch's
    // stragglers arrived below the already-flushed watermark.
    val late = graft.operators.StreamQueries.streamLate(spark, sfDir)
      .agg(sum("n")).head().getLong(0)
    val oneBatch = graft.operators.StreamQueries
      .streamAppendWindow(spark, sfDir)
      .agg(sum("n")).head().getLong(0)
    assert(late > 0, "late-replay query emitted nothing")
    assert(late < oneBatch,
      s"expected late rows to be dropped: two-batch total $late vs " +
        s"single-batch finalized total $oneBatch")
  }

  test("restart from checkpoint resumes exactly once (no replay, no loss)") {
    // The property a 100 TB deployment actually relies on: a stopped query
    // restarted against the SAME checkpoint processes only data that
    // arrived since. File sinks support recovery (the memory sink does
    // not); the sink's commit log keeps the output exactly-once, so after
    // the restart the sink holds each input row exactly once — file 1
    // rows doubled would mean replay; file 2 rows missing would mean loss.
    val base = java.nio.file.Files
      .createTempDirectory("graft-restart").toString
    val (ckpt, data, out) = (s"$base/ckpt", s"$base/data", s"$base/out")
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id")
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$data/f1")
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$data/f*")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val evens = ev.filter(col("event_id") % 2 === 0).count()
    val all = ev.count()
    run()
    assert(spark.read.parquet(out).count() === evens)
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$data/f2")
    run()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() === all,
      "restart must process exactly the newly-arrived file")
    assert(sunk.select("event_id").distinct().count() === all,
      "no event may be duplicated across the restart")
  }

  test("stream-stream interval join matches across batches, then evicts") {
    // The q_stream_interval_join semantics the single-batch replay can't
    // show: (1) a purchase arriving a BATCH AFTER its click still joins —
    // the click was buffered in join state; (2) once the global watermark
    // passes a click's interval end, its state is evicted (numRowsRemoved
    // > 0, total shrinks back) and a late purchase that would have
    // matched it emits nothing — bounded state, the 100 TB property.
    import spark.implicits._
    val clicksMs = MemoryStream[Event](
      org.apache.spark.sql.Encoders.product[Event], spark)
    val purchMs = MemoryStream[Event](
      org.apache.spark.sql.Encoders.product[Event], spark)
    val clicks = clicksMs.toDF()
      .select(col("event_id").as("c_id"), col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = purchMs.toDF()
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
    val (q, name) = startToMemory(joined, OutputMode.Append())
    try {
      // b1: the click alone — nothing to join yet.
      clicksMs.addData(ev(1, "2024-01-01 10:00:00", uid = 7))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0)
      // b2: its purchase, one batch later, inside the interval → the
      // buffered click state produces the match.
      purchMs.addData(ev(2, "2024-01-01 10:05:00", uid = 7))
      q.processAllAvailable()
      assert(spark.table(name).count() === 1)
      val buffered = q.lastProgress.stateOperators.head.numRowsTotal
      assert(buffered >= 2, s"click+purchase should be in state: $buffered")
      // b3: both streams jump to noon → global watermark becomes
      // min(12:00, 12:30) − 30 min = 11:30, far past the old interval.
      clicksMs.addData(ev(3, "2024-01-01 12:00:00", uid = 8))
      purchMs.addData(ev(4, "2024-01-01 12:30:00", uid = 8))
      q.processAllAvailable()
      // b4: a late purchase that WOULD match the 10:00 click. Its state
      // is gone (evicted once the watermark passed 10:10) and the row
      // itself is below the watermark → no new output.
      purchMs.addData(ev(5, "2024-01-01 10:06:00", uid = 7))
      q.processAllAvailable()
      assert(spark.table(name).count() === 1,
        "late purchase must not join against evicted click state")
      val p = q.lastProgress.stateOperators.head
      assert(p.numRowsRemoved > 0 || p.numRowsTotal < buffered + 2,
        s"watermark advance should evict old join state " +
          s"(total ${p.numRowsTotal}, removed ${p.numRowsRemoved})")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join null-extends at eviction") {
    // The left-outer completion of the interval-join family: a matched
    // click emits immediately (inner semantics), but an UNMATCHED click
    // can only emit once the global watermark passes its interval end —
    // "no match can ever arrive" is provable exactly at eviction time, so
    // the null-extended row appears late by construction. Same bounded
    // state as the inner join: both sides watermarked, both event times
    // bounded by the join condition.
    import spark.implicits._
    val clicksMs = MemoryStream[Event](
      org.apache.spark.sql.Encoders.product[Event], spark)
    val purchMs = MemoryStream[Event](
      org.apache.spark.sql.Encoders.product[Event], spark)
    val clicks = clicksMs.toDF()
      .select(col("event_id").as("c_id"), col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = purchMs.toDF()
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    val (q, name) = startToMemory(joined, OutputMode.Append())
    try {
      // b1: click 1 (uid 7) gets its purchase in-batch → inner-style
      // match; click 2 (uid 9) has no purchase — and must NOT null-extend
      // yet, because a matching purchase could still arrive.
      clicksMs.addData(ev(1, "2024-01-01 10:00:00", uid = 7),
        ev(2, "2024-01-01 10:00:00", uid = 9))
      purchMs.addData(ev(3, "2024-01-01 10:05:00", uid = 7))
      q.processAllAvailable()
      val afterB1 = spark.table(name).collect()
      assert(afterB1.count(r => r.getAs[Long]("c_id") == 1L &&
        !r.isNullAt(r.fieldIndex("p_id"))) === 1, "matched click must emit")
      assert(!afterB1.exists(_.getAs[Long]("c_id") == 2L),
        "unmatched click emitted before its interval closed")
      // b2: both streams jump to noon (matched pair for uid 8 keeps the
      // output deterministic) → global watermark min(12:00,12:05)−30 min
      // = 11:30 passes click 2's interval end 10:10 → its state evicts
      // and the null-extended row flushes (nudge batch lets it surface).
      clicksMs.addData(ev(4, "2024-01-01 12:00:00", uid = 8))
      purchMs.addData(ev(5, "2024-01-01 12:05:00", uid = 8))
      q.processAllAvailable()
      clicksMs.addData(ev(6, "2024-01-01 12:10:00", uid = 8))
      purchMs.addData(ev(7, "2024-01-01 12:15:00", uid = 8))
      q.processAllAvailable()
      val c2rows = spark.table(name).collect()
        .filter(_.getAs[Long]("c_id") == 2L)
      assert(c2rows.length === 1,
        s"unmatched click must null-extend exactly once: ${c2rows.length}")
      assert(c2rows.head.isNullAt(c2rows.head.fieldIndex("p_id")),
        "null-extension must carry null purchase columns")
    } finally q.stop()
  }

  test("q_stream_stateful is state-store-provider-agnostic (RocksDB)") {
    // The default HDFSBackedStateStoreProvider keeps every key's state
    // on-heap — the first casualty at production state sizes. The query
    // contract must not depend on the provider: the declared
    // q_stream_stateful plan re-run under RocksDB (off-heap, ships in
    // Spark's own jars) must produce the identical answer, and a
    // cross-batch script must prove state actually round-trips THROUGH
    // RocksDB (batch 2 reads batch 1's state back out of the store).
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val expected = graft.operators.StreamQueries
      .streamStateful(spark, sfDir).collect()
    val prev = spark.conf.get(key)
    spark.conf.set(key, rocks)
    try {
      val got = graft.operators.StreamQueries
        .streamStateful(spark, sfDir).collect()
      assert(got.toSeq === expected.toSeq,
        "RocksDB provider changed the stateful answer")
      // Cross-batch state round-trip: same user in two explicit batches;
      // the batch-2 running count is correct only if batch 1's state was
      // persisted to and recovered from the RocksDB store.
      val ms = MemoryStream[Event](
        org.apache.spark.sql.Encoders.product[Event], spark)
      val counts = ms.toDS()
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.NoTimeout)(
          (uid: Long, it: Iterator[Event], st: GroupState[Long]) => {
            val n = st.getOption.getOrElse(0L) + it.size
            st.update(n)
            Iterator((uid, n))
          })
        .toDF("user_id", "n")
      val (q, name) = startToMemory(counts, OutputMode.Update())
      try {
        ms.addData(ev(1, "2024-01-01 10:00:00", uid = 7),
          ev(2, "2024-01-01 10:01:00", uid = 7))
        q.processAllAvailable()
        ms.addData(ev(3, "2024-01-01 10:02:00", uid = 7))
        q.processAllAvailable()
        val ns = spark.table(name).filter(col("user_id") === 7)
          .select("n").collect().map(_.getLong(0)).sorted
        assert(ns.toSeq === Seq(2L, 3L))
        // And the store really was RocksDB: the provider exports
        // rocksdb-prefixed custom state metrics in the query progress.
        val metrics = q.lastProgress.stateOperators.head
          .customMetrics.keySet()
        assert(metrics.stream().anyMatch(_.startsWith("rocksdb")),
          s"expected rocksdb custom metrics, got $metrics")
      } finally q.stop()
    } finally spark.conf.set(key, prev)
  }

  test("transformWithState (Spark 4 stateful API) matches the fgws answer") {
    // The modern replacement for flatMapGroupsWithState: typed composable
    // state (ValueState/ListState/MapState/timers) behind a
    // StatefulProcessor, RocksDB-only by design. The same per-user
    // running count as q_stream_stateful's operator, driven through two
    // explicit batches — the cross-batch total proves the ValueState
    // round-trips, and the API is exercised end-to-end so a migration of
    // the declared query is a mechanical swap.
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event](Encoders.product[Event], spark)
      val counts = ms.toDS()
        .groupByKey(_.user_id)
        .transformWithState(
          new StatefulProcessor[Long, Event, (Long, Long)] {
            @transient private var count: ValueState[Long] = _
            override def init(outputMode: OutputMode,
                timeMode: TimeMode): Unit =
              count = getHandle.getValueState[Long]("count",
                Encoders.scalaLong, TTLConfig.NONE)
            override def handleInputRows(uid: Long, rows: Iterator[Event],
                timers: TimerValues): Iterator[(Long, Long)] = {
              val n = (if (count.exists()) count.get() else 0L) + rows.size
              count.update(n)
              Iterator((uid, n))
            }
          },
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n")
      val (q, name) = startToMemory(counts, OutputMode.Update())
      try {
        ms.addData(ev(1, "2024-01-01 10:00:00", uid = 7),
          ev(2, "2024-01-01 10:01:00", uid = 7))
        q.processAllAvailable()
        ms.addData(ev(3, "2024-01-01 10:02:00", uid = 7))
        q.processAllAvailable()
        val ns = spark.table(name).filter(col("user_id") === 7)
          .select("n").collect().map(_.getLong(0)).sorted
        assert(ns.toSeq === Seq(2L, 3L))
      } finally q.stop()
    } finally spark.conf.set(key, prev)
  }

  // The versioned-merge replays share one helper; each is checked on its
  // own table and its own count column.
  for ((query, table, counted) <- Seq(
      ("q_stream_merge_sink", "merge_table", "n_events"),
      ("q_stream_cdc_apply", "cdc_table", "n_versions")))
    test(s"$query merges across two real micro-batches") {
      // The oracle certifies the FINAL state; this pins that it was built
      // incrementally: two versioned commits exist, v=0 holds only the
      // older event-time half (strictly fewer events than final), and
      // the cross-batch combine added counts rather than overwriting
      // them. The final commit, not the query's rows, is the total: CDC
      // filters its tombstoned keys out only at read time.
      assert(SparkEntry.queries(query)(spark, sfDir).collect().nonEmpty)
      val tbl = graft.sources.SourceQueries.scratch(sfDir, table)
      val p = new org.apache.hadoop.fs.Path(tbl)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val versions = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("v=")).sorted
      assert(versions.sameElements(Array("v=0", "v=1")),
        s"expected two merge commits, got ${versions.mkString(",")}")
      def total(v: String): Long = spark.read.parquet(s"$tbl/$v")
        .agg(sum(counted)).head().getLong(0)
      val (v0, v1) = (total("v=0"), total("v=1"))
      assert(v0 > 0 && v0 < v1,
        s"v=0 should hold a strict prefix of events ($v0 vs $v1)")
      assert(v1 == Tables.events(spark, sfDir).count(),
        "merged counts must cover every event exactly once")
    }

  test("staged replay slices: reused unchanged, restaged when the " +
      "input regenerates") {
    // The stagedReplaySlices contract (q_stream_late/merge_sink/
    // cdc_apply/lsh_ingest): the b* slice stage is built ONCE per input
    // fingerprint — a second run reuses it byte-for-byte (marker
    // payload unchanged, same answer) — and a REGENERATED input
    // invalidates the marker so the slices are rebuilt, never served
    // stale. Runs on a copied corpus because the real one is read-only.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempCorpus("graft-replay-stage")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val root = graft.sources.SourceQueries.scratch(dir, "late_stream")
    val r1 = graft.operators.StreamQueries.streamLate(spark, dir).collect()
    val m1 = graft.sources.Staging.readMarker(spark, root)
    assert(m1.isDefined, "no stage marker after the first run")
    val r2 = graft.operators.StreamQueries.streamLate(spark, dir).collect()
    assert(graft.sources.Staging.readMarker(spark, root) === m1,
      "marker rewritten although the input was unchanged")
    assert(r2.toSeq === r1.toSeq)
    // Regenerate the input (drop the oldest quarter of events) — the
    // listing fingerprint changes, so the stage must rebuild and the
    // replay must answer for the NEW corpus.
    val keep = Tables.events(spark, dir)
    val cut = keep.agg(percentile_approx(unix_micros(col("ts")),
      lit(0.25), lit(1000))).head().getLong(0)
    val trimmed = keep.filter(unix_micros(col("ts")) > cut).collect()
    val evPath = Paths.get(s"$dir/events.parquet")
    Files.delete(evPath)
    spark.createDataFrame(
        spark.sparkContext.parallelize(trimmed.toIndexedSeq, 1),
        keep.schema)
      .coalesce(1).write.mode("overwrite").parquet(evPath.toString)
    val r3 = graft.operators.StreamQueries.streamLate(spark, dir).collect()
    assert(graft.sources.Staging.readMarker(spark, root) !== m1,
      "stale marker survived an input regeneration")
    assert(r3.nonEmpty)
    assert(r3.map(_.getAs[Long]("n")).sum <
      r1.map(_.getAs[Long]("n")).sum,
      "restaged replay still answers for the old corpus")
  }

  test("streaming tumbling counts equal the batch answer (equivalence)") {
    val streamed = graft.operators.StreamQueries
      .streamTumbling(spark, sfDir).collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  // One memory-sink replay (runToTable's conf scope) and one
  // foreachBatch replay (no conf scope of its own).
  for (query <- Seq("q_stream_tumbling", "q_stream_foreach_batch"))
    test(s"$query leaves the session conf as it found it, unset " +
        "keys included") {
      val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
      val run = () => SparkEntry.queries(query)(spark, sfDir).collect()
      run() // the events readers' one-time conf assertions land here
      spark.conf.unset(noData)
      val before = spark.conf.getAll
      run()
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty, s"conf keys changed by the run: $changed")
    }
}
