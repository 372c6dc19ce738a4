package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's unbounded-source facade (SURVEY §7.1 step 3).
  *
  * The reference's identity is "read an unbounded Kafka stream, transform,
  * write" (/root/reference/main.py:78-110, `streaming: True` at :63). In
  * this zero-egress environment the unbounded source is the `events` table
  * replayed through Spark's file streaming source (or `MemoryStream` in
  * tests); the Kafka wiring is carried by [[KafkaSourceConfig]] as config
  * surface. Everything downstream — windows, watermarks, state — sees the
  * same unbounded `DataFrame` either way, which is the point of the facade.
  */
object EventStreams {

  /** Unbounded read of the events table via the file streaming source.
    * The source requires a directory; the glob filter selects the events
    * file out of the shared scale-factor dir.
    *
    * The file streaming source needs a user-supplied schema, and `ts` has
    * shipped in two physical forms across testdata generations (INT64
    * TIMESTAMP(NANOS) vs plain TIMESTAMP(MICROS)) — so peek at the footer
    * through `Tables.events` (a metadata-only read) and reuse both its
    * resolved schema and its normalization, keeping batch and stream
    * agreed to the microsecond by construction. */
  def fileStream(s: SparkSession, dir: String): DataFrame = {
    val batchShape = graft.Tables.events(s, dir)
    val rawTs = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = s.readStream
      .schema(StructType(batchShape.schema.map(f =>
        if (f.name == "ts") f.copy(dataType = rawTs) else f)))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (rawTs == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Project an events frame (batch or streaming) into the exact shape
    * Spark's Kafka source emits (`includeHeaders=true` schema — SURVEY
    * §1.1): key/value binary, topic/partition/offset, record timestamp,
    * headers. This is what lets `q_stream_echo` exercise the reference's
    * intended read→transform→write pipeline without a broker: downstream
    * code cannot tell this frame from a real `format("kafka")` read. */
  def asKafkaRecords(events: DataFrame,
      topic: String = "test-topic"): DataFrame =
    events.select(
      col("event_id").cast("string").cast("binary").as("key"),
      to_json(struct(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))).cast("binary")
        .as("value"),
      lit(topic).as("topic"),
      lit(0).as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"),
      lit(0).as("timestampType"),
      array(struct(lit("origin").as("key"),
        lit("graft").cast("binary").as("value"))).as("headers"))

  /** Value-payload schema for parsing Kafka record values back into typed
    * rows (the reference's one parsing act, json.loads at main.py:71). */
  val valueSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))
}
