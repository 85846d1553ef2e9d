"""Structured Streaming over the documents table.

The reference is a batch library with no streaming (SURVEY.md §2.12);
this is our engine's addition. Per-document processing is stateless
across documents, so the natural shape is an incremental-file (or
Iceberg incremental-snapshot) source + foreachBatch running the SAME
batch pipeline — checkpointing gives exactly-once sink semantics and
resumability (north_rule: resumable from checkpoint).

Also provided: a watermarked tumbling-window aggregation over the
events table — the standard late-data-tolerant streaming agg — to cover
the Structured Streaming windowing surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from ..plans.pipeline import FEATURE_COLS, build_street_network

SPANS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def stream_street_network(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str):
    """Incrementally convert arriving document files into rendered
    feature parquet: one availableNow trigger over the files present,
    4 files per micro-batch. Each micro-batch runs the full batch pipeline —
    correct because no operator crosses documents."""
    stream = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        net = build_street_network(batch_df.sparkSession, batch_df)
        net["features"].select(FEATURE_COLS) \
            .write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_event_windows(spark: SparkSession, input_dir: str,
                         checkpoint_dir: str):
    """Watermarked 1-hour tumbling-window event counts — data later than
    the 1-hour watermark is dropped, state is bounded (the standard
    pattern)."""
    ev_schema = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("event_windows")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
