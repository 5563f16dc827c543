"""The reference pipeline, re-expressed on Structured Streaming.

Reference dataflow (SURVEY.md §3): NSQ source → dedup (generational hash
cache) → oversize drop → partition-key projection → KPL packing → Kinesis
PutRecords, with at-least-once delivery.

Spark form: the entire hot path is one declarative chain; acks/requeues
dissolve into checkpoint + replay; the 2×120 s dedup generations become a
watermark (dropDuplicatesWithinWatermark); packing/sending live in the
sink's foreachBatch (kinesis_sink.py).

Scale notes: dedup state shards across executors by body_hash (the
reference serialized every message through one mutex-guarded map,
deduper.go:18); at 100 TB use the RocksDB state store provider + watermark
eviction. xxhash64 here (JVM, codegen) vs the reference's FNV-64a — same
role, no wire compatibility needed for the dedup key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEDUP_WATERMARK = "4 minutes"  # ≙ 2 × 120 s generations (reference main.go:113)
MAX_BODY_BYTES = 1 << 20  # reference kinesis_writer.go:167
MAX_KEY_LEN = 255  # reference aggregator.go:128

MESSAGE_SCHEMA = (
    "message_id string, body binary, ts timestamp, attempts int, key string"
)


def dedup_transform(df: DataFrame, streaming: bool, watermark: str = DEDUP_WATERMARK) -> DataFrame:
    """Duplicate filter on the body hash (reference handler.go:18-26 +
    deduper.go:25-47). Streaming: watermark-scoped state (the generational
    cache's Spark analog). Batch: plain dropDuplicates on the hash."""
    hashed = df.withColumn("body_hash", F.xxhash64("body"))
    if streaming:
        return hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["body_hash"])
    return hashed.dropDuplicates(["body_hash"])


def oversize_filter(df: DataFrame, max_bytes: int = MAX_BODY_BYTES) -> DataFrame:
    """Drop oversized bodies (reference kinesis_writer.go:167-170). The
    sink also guards (defense in depth) and counts drops."""
    return df.filter(F.octet_length("body") <= max_bytes)


def partition_key_transform(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Kinesis partition key: caller key if valid (non-empty, ≤255 chars)
    else hex body hash (reference aggregator.go:19-31, 124-130)."""
    cand = F.col(key_col) if key_col in df.columns else F.lit(None).cast("string")
    fallback = F.lower(F.hex(F.xxhash64("body")))
    return df.withColumn(
        "partition_key",
        F.when(cand.isNotNull() & (F.length(cand).between(1, MAX_KEY_LEN)), cand).otherwise(
            fallback
        ),
    )


def forwarding_transform(
    df: DataFrame,
    streaming: bool = True,
    watermark: str = DEDUP_WATERMARK,
    max_bytes: int = MAX_BODY_BYTES,
) -> DataFrame:
    """The full hot path (dedup → oversize → partition key), shared by the
    streaming pipeline (build_pipeline — ONE composition, no inline copy
    to drift) and its oracle-checkable batch twins (q60/q64/q65)."""
    return partition_key_transform(
        oversize_filter(dedup_transform(df, streaming, watermark=watermark), max_bytes)
    )


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
    dedup_watermark: str = DEDUP_WATERMARK
    max_body_bytes: int = MAX_BODY_BYTES
    # optional ingest-time analytics: append hourly HLL cells of the dedup
    # hash to this parquet sketch table per micro-batch (q142's maintenance
    # step driven by stream epochs — streaming/sketch_maintenance.py)
    sketch_table: str | None = None
    # auto-compact the sketch table every N data-bearing epochs from inside
    # the stream (driver-side, between micro-batches; blocks the next
    # trigger while it runs); None = external or async cadence
    sketch_compact_every: int | None = None
    # OR compact on a wall-clock cadence from the stage's own daemon
    # ticker thread — the reference's actual Trim() shape (its ticker is
    # a separate goroutine, main.go:110-120); safe beside live epochs by
    # the manifest protocol. Mutually exclusive with sketch_compact_every.
    sketch_compact_async_s: float | None = None


def build_pipeline(source_df: DataFrame, sink, config: PipelineConfig):
    """Wire source → transforms → foreachBatch(sink) → start.

    ``source_df`` is an unbounded DataFrame with MESSAGE_SCHEMA columns
    (from the NSQ DataSource, sources/nsq.py, or any test source);
    ``sink`` is a foreachBatch callable (e.g. KinesisSink). With
    ``config.sketch_table`` set, the sink is wrapped in a
    SketchMaintenance stage that appends hourly distinct-message HLL
    cells per epoch. Returns the started StreamingQuery.
    """
    # let an epoch-guarded sink namespace its markers by this query's id
    if getattr(sink, "checkpoint_dir", "absent") is None:
        sink.checkpoint_dir = config.checkpoint_dir
    transformed = with_forward_metrics(
        forwarding_transform(
            source_df,
            streaming=True,
            watermark=config.dedup_watermark,
            max_bytes=config.max_body_bytes,
        )
    )
    maintenance = None
    if config.sketch_table is not None:
        from .sketch_maintenance import SketchMaintenance

        maintenance = SketchMaintenance(
            config.sketch_table,
            inner=sink,
            compact_every_n_epochs=config.sketch_compact_every,
            compact_async_interval_s=config.sketch_compact_async_s,
        )
        sink = maintenance
    query = (
        transformed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", config.checkpoint_dir)
        .trigger(processingTime=config.trigger_processing_time)
        .start()
    )
    # expose the maintenance stage so the caller can close() its async
    # compaction ticker after query.stop() (its docstring requires it —
    # r10 ADVICE low: without the join, a graceful shutdown routinely
    # exits mid-compaction, exercising the crash-recovery path instead)
    query.maintenance_sink = maintenance
    return query
