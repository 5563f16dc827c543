"""The reference pipeline, re-expressed on Structured Streaming.

Reference dataflow (SURVEY.md §3): NSQ source → dedup (generational hash
cache) → oversize drop → partition-key projection → KPL packing → Kinesis
PutRecords, with at-least-once delivery.

Spark form: the hot path is one declarative chain (dedup → partition
key); acks/requeues dissolve into checkpoint + replay; the 2×120 s dedup
generations become a watermark (dropDuplicatesWithinWatermark); the
oversize drop, packing and sending live in the sink's foreachBatch
(kinesis_sink.py), which owns the 1 MiB record limit (body plus partition
key) and counts what it drops. With ``PipelineConfig.sketch_table`` set,
each epoch also appends hourly HLL cells to a sketch table
(sketch_maintenance.py); compacting that table is a separate one-shot
pass (``compact_sketch_table``), never part of the stream.

Scale notes: the dedup state gets one partition, sized to the one
driver-side reader that feeds it (at most ``max_records_per_trigger`` rows
a trigger), so each trigger runs one state-store task rather than one per
``spark.sql.shuffle.partitions``; a parallel reader tier would bring back
state sharded by body_hash at that tier's partition count. At 100 TB use
the RocksDB state store provider + watermark eviction. xxhash64 here (JVM,
codegen) vs the reference's FNV-64a — same role, no wire compatibility
needed for the dedup key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kpl import MAX_PARTITION_KEY_LEN

DEDUP_WATERMARK = "4 minutes"  # ≙ 2 × 120 s generations (reference main.go:113)

MESSAGE_SCHEMA = (
    "message_id string, body binary, ts timestamp, attempts int, key string"
)


def dedup_transform(df: DataFrame, streaming: bool) -> DataFrame:
    """Duplicate filter on the body hash (reference handler.go:18-26 +
    deduper.go:25-47). Streaming: watermark-scoped state (the generational
    cache's Spark analog). Batch: plain dropDuplicates on the hash."""
    hashed = df.withColumn("body_hash", F.xxhash64("body"))
    if streaming:
        return hashed.withWatermark("ts", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
            ["body_hash"]
        )
    return hashed.dropDuplicates(["body_hash"])


def partition_key_transform(df: DataFrame) -> DataFrame:
    """Kinesis partition key: the caller's ``key`` if valid (non-empty,
    ≤255 chars) else the hex body hash (reference aggregator.go:19-31,
    124-130). Expects ``body_hash`` from :func:`dedup_transform`."""
    cand = F.col("key") if "key" in df.columns else F.lit(None).cast("string")
    return df.withColumn(
        "partition_key",
        F.when(
            cand.isNotNull() & F.length(cand).between(1, MAX_PARTITION_KEY_LEN), cand
        ).otherwise(F.lower(F.hex("body_hash"))),
    )


def forwarding_transform(df: DataFrame, streaming: bool = True) -> DataFrame:
    """The hot path's DataFrame half (dedup → partition key), used by the
    streaming pipeline (build_pipeline) and, on a batch DataFrame, by
    tools/streaming_ladder.py's forward_path rung. Bodies over the
    1 MiB record limit pass through: the sink drops and counts them. The
    oracle-checkable batch twins (q60/q64/q65) carry their own expressions
    in operators/streaming_twins.py."""
    return partition_key_transform(dedup_transform(df, streaming))


def with_forward_metrics(df: DataFrame, observation=None) -> DataFrame:
    """Running counters (reference aggregator.go:183-205 Size()/Count()) as
    ``df.observe`` metrics: records and payload bytes passing the forward
    path. Streaming: pass no observation — metrics land in every
    ``StreamingQueryProgress.observedMetrics['forward_metrics']``. Batch:
    pass a ``pyspark.sql.Observation`` and read ``observation.get`` after an
    action. Zero-cost in the plan (piggybacks on the pass, no extra scan)."""
    metrics = (
        F.count(F.lit(1)).alias("n_records"),
        F.coalesce(F.sum(F.octet_length("body")), F.lit(0)).alias("n_body_bytes"),
    )
    if observation is not None:
        return df.observe(observation, *metrics)
    return df.observe("forward_metrics", *metrics)


@dataclass
class PipelineConfig:
    checkpoint_dir: str
    trigger_processing_time: str = "1 second"  # reference MaxDelay (kinesis_writer.go:42-44)
    # optional ingest-time analytics: append hourly HLL cells of the dedup
    # hash to this parquet sketch table per micro-batch (q142's maintenance
    # step driven by stream epochs — streaming/sketch_maintenance.py)
    sketch_table: str | None = None


def build_pipeline(source_df: DataFrame, sink, config: PipelineConfig):
    """Wire source → transforms → foreachBatch(sink) → start.

    ``source_df`` is an unbounded DataFrame with MESSAGE_SCHEMA columns
    (from the NSQ DataSource, sources/nsq.py, or any test source);
    ``sink`` is a foreachBatch callable (e.g. KinesisSink). With
    ``config.sketch_table`` set, the sink is wrapped in a
    SketchMaintenance stage that appends hourly distinct-message HLL
    cells per epoch. The query starts with one shuffle partition, so the
    dedup state runs one task per trigger; the session's own setting is
    restored at once, and a restarted checkpoint keeps the count its offset
    log recorded. Returns the started StreamingQuery.
    """
    # let an epoch-guarded sink namespace its markers by this query's id
    if getattr(sink, "checkpoint_dir", "absent") is None:
        sink.checkpoint_dir = config.checkpoint_dir
    transformed = with_forward_metrics(forwarding_transform(source_df, streaming=True))
    if config.sketch_table is not None:
        from .sketch_maintenance import SketchMaintenance

        sink = SketchMaintenance(config.sketch_table, inner=sink)
    writer = (
        transformed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", config.checkpoint_dir)
        .trigger(processingTime=config.trigger_processing_time)
    )
    # the query copies the session's conf when it starts
    conf = source_df.sparkSession.conf
    shuffle_partitions = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "1")
    try:
        return writer.start()
    finally:
        conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
