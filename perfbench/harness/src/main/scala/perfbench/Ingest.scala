package perfbench

import java.sql.Timestamp
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, from_json, upper}
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.streaming.EventStreams

final case class KafkaHeader(key: String, value: Array[Byte])

/** A record in the shape Spark's Kafka source emits. */
final case class KafkaRecord(key: Array[Byte], value: Array[Byte],
    topic: String, partition: Int, offset: Long, timestamp: Timestamp,
    timestampType: Int, headers: Seq[KafkaHeader])

/** Figures of one ingest phase. Latencies are per record, from the
  * generator's creation stamp to the end of the sink write of the batch
  * that carried it; p50 and p99 are taken in each second of the
  * reference window, and the median over the seconds is reported, so a
  * short stall of the host moves one second's figure, not the result. */
final case class IngestResult(refRate: Double, p50Ms: Double, p99Ms: Double,
    refBacklogMax: Long, refLateMs: Double, capacityRowsPerS: Double,
    generated: Long, lost: Long, duplicated: Long, wrongFields: Long,
    wallS: Double)

/** The reference consumer's job, open loop: a generator appends
  * Kafka-shaped records (built by `EventStreams.asKafkaRecords` from the
  * `events` table, in a seeded order, cycled with fresh offsets) to a
  * MemoryStream on a fixed schedule that does not wait for Spark; the
  * `q_stream_echo` pipeline (`from_json` with `EventStreams.valueSchema`,
  * `upper(event_type)`, project) runs as micro-batches into a sink that
  * collects every column. Each record carries its creation time in the
  * Kafka `timestamp` field. */
final class Ingest(spark: SparkSession, dataDir: String, seed: Long,
    tmpDir: String, spans: Spans, dropOffset: Long) {

  // Source events in seeded order: the Kafka payloads plus the fields a
  // correct parse must give back.
  private val (payloads, expId, expType, expValue) = {
    val ev = Tables.events(spark, dataDir)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    val kafka = EventStreams.asKafkaRecords(Tables.events(spark, dataDir))
      .select(col("key").cast("string"), col("value")).collect()
      .map(r => r.getString(0).toLong -> r.getAs[Array[Byte]](1)).toMap
    val order = new scala.util.Random(seed).shuffle(ev.indices.toVector)
    (order.map(i => kafka(ev(i)._1)).toArray,
      order.map(i => ev(i)._1).toArray,
      order.map(i => ev(i)._2.toUpperCase(Locale.ROOT)).toArray,
      order.map(i => ev(i)._3).toArray)
  }
  private val n = payloads.length
  private val headers = Seq(KafkaHeader("origin", "graft".getBytes("UTF-8")))

  // Sink bookkeeping, indexed by offset. Written by the stream thread
  // inside foreachBatch, read by the generator after a drain.
  private val capacity = 4000000
  private val seen = new Array[Byte](capacity)
  private val latencyUs = new Array[Long](capacity)
  @volatile private var delivered = 0L
  @volatile private var wrong = 0L
  // (sink start, sink end, rows) of every batch.
  private val batchEnds = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def stamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def sink(df: DataFrame, batchId: Long): Unit = {
    val t0 = Util.nowMicros()
    val rows: Array[Row] = df.collect()
    val end = Util.nowMicros()
    var w = 0L
    rows.foreach { r =>
      val off = r.getLong(3)
      if (off != dropOffset) {
        val i = (off % n).toInt
        if (r.isNullAt(0) || r.getLong(0) != expId(i) ||
            r.getString(1) != expType(i) || r.isNullAt(2) ||
            r.getDouble(2) != expValue(i)) w += 1
        if (off < capacity) {
          if (seen(off.toInt) < Byte.MaxValue) seen(off.toInt) =
            (seen(off.toInt) + 1).toByte
          latencyUs(off.toInt) = end - micros(r.getTimestamp(4))
        } else w += 1
      }
    }
    batchEnds.synchronized(batchEnds += ((t0, end, rows.length.toLong)))
    wrong += w
    delivered += rows.length
  }

  private var next = 0L
  private var stream: MemoryStream[KafkaRecord] = _

  /** Offer `total` records at `rate` records/s on a fixed schedule: every
    * 10 ms tick appends the records due by now (at most `maxChunk` per
    * append), whatever Spark is doing; a generator behind schedule appends
    * without pausing. A record's creation stamp is the time it was due,
    * so a late generator or a stalled source shows in the latency (an
    * infinite rate stamps the time of the append). Returns the offsets
    * made, the largest backlog seen (records made but not yet delivered)
    * and the largest lateness of the schedule in ms. */
  private def offer(rate: Double, total: Long): (Long, Long, Long, Double) = {
    val maxChunk = 20000L
    val first = next
    val t0 = System.nanoTime()
    val t0Us = Util.nowMicros()
    var made = 0L
    var backlog = 0L
    var lateNs = 0L
    while (made < total) {
      val now = System.nanoTime()
      def scheduled(at: Long) =
        if (rate.isInfinite) total else ((at - t0) / 1e9 * rate).toLong + 1
      val due = math.min(math.min(total, made + maxChunk), scheduled(now))
      if (due > made) {
        lateNs = math.max(lateNs, now - (t0 + (made / rate * 1e9).toLong))
        val appended = Util.nowMicros()
        val chunk = (made until due).map { k =>
          val off = first + k
          val i = (off % n).toInt
          val created =
            if (rate.isInfinite) appended else t0Us + (k * 1e6 / rate).toLong
          KafkaRecord(expId(i).toString.getBytes("UTF-8"), payloads(i),
            "test-topic", 0, off, stamp(created), 0, headers)
        }
        stream.addData(chunk)
        made = due
        backlog = math.max(backlog, first + made - delivered)
      }
      val behind = scheduled(System.nanoTime()) > made + 1
      val wait = 10000000L - (System.nanoTime() - now)
      if (wait > 0 && !behind)
        Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
    }
    next = first + total
    (first, next, backlog, lateNs / 1e6)
  }

  /** Wait until every offered record has been delivered (or time out). */
  private def drain(timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (delivered < next && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Warm up, then measure latency at `refRate` for `refS` seconds and
    * the rate at which backlogs of `burst` / 3 records, appended as fast
    * as the generator can, drain. */
  def run(parent: Int, refRate: Double, refS: Double, burst: Long)
      : IngestResult = {
    require(refRate * (refS + 3) + burst < capacity,
      "ingest phase offers more records than the sink bookkeeping holds")
    stream = MemoryStream[KafkaRecord](Encoders.product[KafkaRecord], spark)
    val parsed = stream.toDF()
      .select(from_json(col("value").cast("string"), EventStreams.valueSchema)
        .as("e"), col("offset"), col("timestamp"))
      .select(col("e.event_id").as("event_id"),
        upper(col("e.event_type")).as("event_type_up"),
        col("e.value").as("value"), col("offset"), col("timestamp"))
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(tmpDir), "ingest-ckpt-")
    val writer: (DataFrame, Long) => Unit = sink
    // A fixed trigger, as a deployed consumer uses: batch sizes follow the
    // offered rate instead of feeding back on the last batch's duration,
    // and a backlog still runs batches back to back.
    val q = parsed.writeStream.queryName("perfbench_ingest")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(200L))
      .foreachBatch(writer).start()
    val t0 = Util.nowMicros()
    try {
      // Warm-up: in a fresh JVM the first batches run interpreted, and
      // batch times keep falling for about 4 s.
      spans.timed(parent, "ingest", "warm") {
        offer(refRate, 3 * refRate.toLong); drain(30)
      }
      val (r0, r1, backlog, late) =
        spans.timed(parent, "ingest", "reference") {
          val r = offer(refRate, (refRate * refS).toLong); drain(30); r
        }
      // Drain rate: bursts appended as fast as the generator can; each
      // burst's records over the time from the start of its first batch's
      // sink write to the end of its last; the median over the bursts.
      val rates = (1 to (if (burst > 0) 3 else 0)).map { i =>
        val from = Util.nowMicros()
        spans.timed(parent, "ingest", s"burst $i") {
          offer(Double.PositiveInfinity, burst / 3); drain(60)
        }
        val bs = batchEnds.synchronized(batchEnds.toList).filter(_._1 >= from)
        if (bs.isEmpty) Double.NaN
        else bs.map(_._3).sum / ((bs.map(_._2).max - bs.map(_._1).min) / 1e6)
      }
      if (q.exception.isDefined) throw q.exception.get
      val perSecond = (r0 until r1)
        .filter(o => o != dropOffset && seen(o.toInt) > 0)
        .groupBy(o => ((o - r0) / refRate).toInt).values
        .map(_.map(o => latencyUs(o.toInt) / 1000.0)).toSeq
      def latency(p: Double) =
        if (perSecond.isEmpty) Double.NaN
        else Util.median(perSecond.map(Util.percentile(_, p)))
      val capacityRate = if (rates.isEmpty) Double.NaN else Util.median(rates)
      val made = next
      var lost = 0L
      var dup = 0L
      var o = 0L
      while (o < made) {
        val s = seen(o.toInt)
        if (s == 0) lost += 1 else if (s > 1) dup += s - 1
        o += 1
      }
      IngestResult(refRate, latency(50), latency(99), backlog, late,
        capacityRate, made, lost, dup,
        wrong, (Util.nowMicros() - t0) / 1e6)
    } finally {
      q.stop()
      Util.deleteRecursively(ckpt.toFile)
    }
  }
}
