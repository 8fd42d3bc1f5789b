"""Kafka source/sink builders (no broker in this environment; the
builders produce real readStream/writeStream plans that run wherever
the spark-sql-kafka package and a broker exist).

Parity: the reference's samsa-based ConsumerBuilder/ProducerBuilder
(feature ``kafka``; example/stocks.rs:131-141, 211-228). The
reference consumes per-partition streams and merges them by hand
(example/tpipe.rs); Spark's Kafka source does the same
partition-parallel consumption natively — one source DF, one task
per Kafka partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["read_kafka_stream", "parse_json_messages", "write_kafka_stream"]


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Raw Kafka stream: (key binary, value binary, topic, partition,
    offset, timestamp, ...)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def parse_json_messages(raw: DataFrame, schema: StructType | str) -> DataFrame:
    """ParsedMessage analog (reference src/lib.rs:20-36 from_bytes):
    key bytes → string, value bytes → typed struct via from_json."""
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), schema).alias("value"),
        "timestamp",
    ).select("key", "value.*", "timestamp")


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    key_col: str = "key",
):
    """to_bytes analog: serialize all non-key columns to a JSON value.

    Returns the DataStreamWriter (caller .start()s it)."""
    payload_cols = [c for c in df.columns if c != key_col]
    out = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*payload_cols)).alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
