package graft.sources

import graft.core.EstimationInput
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Source constructors (SURVEY §2.C scan/source row): schema-explicit batch
  * readers live in [[graft.operators.Tables]]; this module adds the
  * streaming sources — file-replay of the events table (the Kafka stand-in
  * in a zero-egress environment: same micro-batch semantics, different
  * connector string in production) and scenario streams for the estimator
  * surface.
  */
object Sources {

  /** The events table's schema, declared once for streaming reads (a
    * streaming source cannot infer schemas). */
  val eventsDdl: String =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  /** File-replay stream over parquet event files in `dir`: each discovered
    * file becomes micro-batch input — the standard backfill/replay source.
    * `maxFilesPerTrigger 1` paces the replay so windows/watermarks advance
    * the way they would on a live stream.
    *
    * The REAL events table ships TIMESTAMP(NANOS), surfaced as BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong` — declaring `ts TIMESTAMP`
    * against those files fails in the first micro-batch. A streaming source
    * cannot infer, so the footer is peeked with a one-off batch read at
    * stream-definition time and the declared schema + DIV-1000
    * normalization branch follow what batch `Tables.events` does; the
    * downstream frame is `eventsDdl`-shaped either way. An empty/missing
    * dir falls back to the micros declaration (nothing to peek; the first
    * files to arrive decide nothing — redefine the stream for a nanos
    * backfill). */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val tsType = scala.util.Try(
      spark.read.parquet(dir).schema("ts").dataType).toOption
    def read(ddl: String) = spark.readStream
      .schema(ddl).option("maxFilesPerTrigger", "1").parquet(dir)
    tsType match {
      case Some(LongType) => // TIMESTAMP(NANOS) under nanosAsLong
        read(eventsDdl.replace("ts TIMESTAMP", "ts BIGINT"))
          .withColumn("ts", timestamp_micros(
            expr("ts DIV 1000 + (CASE WHEN ts % 1000 < 0 THEN -1 ELSE 0 END)")))
      case Some(TimestampNTZType) => // DuckDB/pandas default shape
        read(eventsDdl.replace("ts TIMESTAMP", "ts TIMESTAMP_NTZ"))
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ => read(eventsDdl)
    }
  }

  /** Turn any streaming frame with a BIGINT `value` column (rate source,
    * MemoryStream of longs, a Kafka offset feed) into a deterministic
    * scenario-per-row stream for the estimation engine: the streaming form
    * of the reference's request flow (SURVEY §1.1 "Streams"), to be
    * consumed by [[graft.engine.Engine.sweep]] — the same narrow map runs
    * unchanged on a streaming Dataset. */
  def scenarioStream(raw: DataFrame): Dataset[EstimationInput] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(col("value").cast("long")).as[Long].map { n =>
      // floorMod, not %: the contract is ANY BIGINT value column, and
      // Scala % yields NEGATIVE remainders on negative inputs — Seq(-1)
      // throws, and a negative messages_per_second would reach validation
      def m(k: Int): Int = math.floorMod(n, k).toInt
      EstimationInput(
        project_name = s"stream scenario $n",
        messages_per_second = 1000 + m(100) * 500,
        avg_record_size_bytes = 256 << m(4),
        num_distinct_keys = 100000L * (1 + m(50)),
        data_skew_risk = Seq("low", "medium", "high")(m(3)),
        expected_latency_seconds = Seq(0.5, 1.0, 5.0)(m(3)),
        simple_statements = m(5),
        medium_statements = m(3),
        complex_statements = m(2),
        worker_node_type = "VM",
        worker_node_t_size = Some(Seq("S", "M", "L")(m(3))))
    }
  }
}
