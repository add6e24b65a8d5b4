"""Streaming source abstraction for the events pipeline.

The operators in ``sift_spark.streaming.events`` consume any frame
with the event columns plus ``ts_ts``; this module supplies that
contract from three sources:

- **files** (`read_event_stream`): parquet directory — the test and
  backfill path (bounded drains with Trigger.AvailableNow).
- **kafka** (`kafka_event_stream`): the production path. The parse
  step (`parse_kafka_events`) is a plain DataFrame transform —
  from_json over the value bytes — so it is unit-tested against a
  static frame shaped like Kafka's output schema without a broker;
  the container ships no Kafka connector jar or broker, so the
  readStream wiring itself raises a clear error if the integration
  is absent (gated, not stubbed: the same call works unchanged on a
  cluster with the `spark-sql-kafka` package).
- **rate** (`rate_event_stream`): Spark's built-in rate source
  mapped onto the event schema — an unbounded in-container source
  for soak/latency testing with no external dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sift_spark.streaming.events import read_event_stream  # noqa: F401 (re-export)

EVENT_JSON_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

EVENT_TYPES = ("click", "view", "purchase", "error", "scroll")


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka records → event rows: JSON-decode ``value`` bytes into
    the event schema, carry Kafka metadata (topic/partition/offset)
    for exactly-once bookkeeping, alias event time to ``ts_ts``.

    Works identically on a streaming frame (readStream.format
    ("kafka")) and a static frame with the same columns — which is
    how it is unit-tested without a broker."""
    ev = F.from_json(F.col("value").cast("string"), EVENT_JSON_SCHEMA)
    return raw.select(
        ev.alias("ev"),
        F.col("topic"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
    ).select(
        "ev.event_id",
        "ev.ts",
        "ev.user_id",
        "ev.event_type",
        "ev.value",
        "ev.props",
        "topic",
        "kafka_partition",
        "kafka_offset",
        F.col("ev.ts").alias("ts_ts"),
    )


def kafka_event_stream(spark: SparkSession, brokers: str, topic: str,
                       starting_offsets: str = "earliest") -> DataFrame:
    """Unbounded event stream from a Kafka topic (production source).

    Requires the ``spark-sql-kafka-0-10`` package on the classpath;
    raises a clear error when the integration is absent (this
    container) — the identical call works on any real cluster."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as exc:  # pragma: no cover - no kafka jar in container
        raise RuntimeError(
            "Kafka source unavailable: the spark-sql-kafka connector is not "
            "on the classpath (add --packages org.apache.spark:"
            "spark-sql-kafka-0-10_2.13:<spark-version>)"
        ) from exc
    return parse_kafka_events(raw)


def rate_event_stream(spark: SparkSession, rows_per_second: int = 100,
                      n_users: int = 50) -> DataFrame:
    """Synthetic unbounded event stream from the built-in rate
    source: deterministic value→event mapping (id, user, type,
    value), real event-time timestamps — lets every downstream
    operator (watermarks, session state, stream-stream joins) run
    unbounded inside this container."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % n_users).alias("user_id"),
        F.element_at(types, (F.col("value") % len(EVENT_TYPES) + 1).cast("int")).alias(
            "event_type"
        ),
        F.round(F.pmod(F.xxhash64("value") / 1e18, F.lit(100.0)), 2).alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
        F.col("timestamp").alias("ts_ts"),
    )


def parse_text_events(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Text lines → event rows: the socket/text parse contract. Each
    line is one JSON event document (the same payload Kafka carries
    in its value bytes, minus the broker metadata). Works identically
    on a streaming frame (socket/text source) and a static frame of
    lines — which is how it is unit-tested without a listener.

    Malformed lines decode to NULL event_ids and are dropped
    explicitly (from_json PERMISSIVE nulls), so one bad line can't
    poison a micro-batch."""
    ev = F.from_json(F.col(line_col).cast("string"), EVENT_JSON_SCHEMA)
    return (
        lines.select(ev.alias("ev"))
        .select("ev.*", F.col("ev.ts").alias("ts_ts"))
        .where(F.col("event_id").isNotNull())
    )

