"""Ingest-time sketch-table maintenance: the streaming half of q142.

q142 (operators/aggregates.py) proves INCREMENTAL maintenance of the
materialized hourly-HLL table as a one-shot batch delta: aggregate only
the newly-arrived slice, append its cells, and every downstream rollup
is provably unable to tell the difference from a rebuild. A real 100 TB
deployment runs that maintenance step AT INGEST — each micro-batch of
the forwarding pipeline (reference dataflow: NSQ → dedup → … → Kinesis,
SURVEY.md §3) appends its own hour cells as it passes, so the analytics
side's distinct-count rollups are always current without ever
re-scanning the corpus.

``SketchMaintenance`` is that stage: a composable foreachBatch callable
that wraps any inner sink (e.g. KinesisSink) and, per epoch, aggregates
the batch's rows into (day, hour, hll_sketch) cells and APPENDS them to
a parquet sketch table. Correctness rests on the same algebra as q142:

- hour cells only PARTITION rows; a (day, hour) split across several
  micro-batches yields several cells whose union has exactly the same
  HLL registers as one cell built from all the rows (register state is
  insertion-order-independent, union is max-per-register), so
  rollup(maintained table) == rollup(rebuild) EXACTLY, not
  approximately — the test asserts equality after N micro-batches.
- replay-safe under at-least-once: a re-delivered micro-batch appends a
  DUPLICATE cell, and unioning the same registers twice is idempotent —
  the estimate is unchanged. The table grows by one redundant cell per
  replay (bounded by the replay count, reclaimed by
  ``compact_sketch_table`` below), but never drifts.

Storage layout (round-10): the table is a MANIFEST-VERSIONED parquet
table (versioned_table.py) — readers resolve one atomic pointer file and
scan exactly one immutable version dir. That is what lets
``compact_sketch_table`` run BESIDE the live stream: the old two-rename
directory swap had an absence window and silently destroyed cells a
concurrent epoch appended mid-compaction (r9 ADVICE, high); the manifest
swap has neither, and its one atomic primitive (single-file rename /
conditional PUT) exists on object storage, where directory renames do
not. Appends and the manifest swap serialize on a commit lock held only
for a few renames — the Spark jobs themselves never block each other.

Scale notes: the per-batch aggregation is a map-side-combined groupBy on
(day, hour) — a batch spanning H hours shuffles H sketch blobs, not
rows; the append writes |cells| tiny parquet files per epoch, the same
artifact economics q141/q142 prove for the batch side. The file count is
bounded by ``compact_sketch_table``, the one way the table is compacted:
a one-shot pass (``python -m nsq2kinesis_spark --compact-sketch-table``
or a library call) run on whatever cadence the deployment's file budget
dictates (hourly against a 1 s trigger keeps the listing ~3.6k files)
from the deployment's own scheduler, beside the live stream. The stage
itself only appends: maintenance stays outside the micro-batch epoch,
which is the unit of delivery and replay.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..versioned_table import append_staged, new_staging_dir, read_table, republish


def read_sketch_table(spark: SparkSession, table_path: str) -> DataFrame:
    """The one reader every consumer of the live sketch table goes
    through: resolve the manifest (atomic), scan that version dir. Falls
    back to a flat directory read for legacy/never-compacted tables."""
    return read_table(spark, table_path)


class SketchMaintenance:
    """foreachBatch stage: per micro-batch, append hourly HLL cells of
    ``key_col`` (default the pipeline's dedup hash — distinct messages
    per hour) to the parquet sketch table at ``table_path``. ``inner``
    is the wrapped downstream sink (called FIRST, so a failing delivery
    fails the epoch before any cells are appended for it). The stage only
    appends; compaction runs outside the stream, through
    ``compact_sketch_table``."""

    def __init__(
        self,
        table_path: str,
        key_col: str = "body_hash",
        ts_col: str = "ts",
        inner=None,
    ):
        self.table_path = table_path
        self.key_col = key_col
        self.ts_col = ts_col
        self.inner = inner
        self.epochs_applied = 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self.inner is not None:
            self.inner(batch_df, epoch_id)
        # zero-row epochs (watermark-advance / state-eviction batches on a
        # dedup-bearing stream) append nothing: an empty parquet commit per
        # idle trigger would be a steady tiny-file drip on a long-running
        # 1 s-trigger deployment — the exact artifact economics this table
        # exists to protect. isEmpty() is a first-nonempty-partition probe,
        # far cheaper than the avoided commit.
        if batch_df.isEmpty():
            return
        # NULL-ts policy follows q137/q141/q142: un-datable rows carry no cell
        cells = (
            batch_df.filter(F.col(self.ts_col).isNotNull())
            .groupBy(
                F.to_date(self.ts_col).alias("day"),
                F.hour(self.ts_col).alias("hour"),
            )
            .agg(F.hll_sketch_agg(self.key_col).alias("sk"))
        )
        # two-phase append: Spark writes to a private staging dir (no lock
        # held during the job), then the commit is a few atomic renames
        # into the current version dir under the table's commit lock
        staging = new_staging_dir(self.table_path)
        try:
            cells.write.parquet(staging, mode="overwrite")
            append_staged(self.table_path, staging)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        self.epochs_applied += 1


def compact_sketch_table(
    spark: SparkSession, table_path: str, target_files: int = 1
) -> dict[str, int]:
    """Maintenance pass for the streaming-maintained sketch table: re-merge
    cells per (day, hour) and republish the table at a bounded file count,
    SAFELY beside the live stream.

    A long-running SketchMaintenance deployment appends |cells| tiny parquet
    files per epoch — at the reference's own 1 s trigger cadence
    (kinesis_writer.go:42-44 analog) that is ~86k files/day — and every
    at-least-once replay appends DUPLICATE cells for its (day, hour)s. This
    pass is the streaming twin of the batch small-files compaction
    (tests/test_plans.py) plus the generational ``Trim()`` role the
    reference's deduper plays for state (deduper.go:42-47): it bounds the
    artifact, not just reorganizes it.

    Correctness is free by algebra: HLL union is associative, commutative
    and idempotent on registers, so ``hll_union_agg`` over a (day, hour)'s
    many cells — including exact replay duplicates — yields a single cell
    whose every downstream rollup is EXACTLY what the fragmented table
    answered (the test asserts week-rollup equality, not closeness).

    Publication protocol (round-10, versioned_table.py): the merged result
    is written to a brand-new version dir (invisible — nothing points to
    it), then the commit — absorb post-snapshot appends by copy, atomic
    single-file manifest swap — runs under the table's commit lock.
    Readers resolving mid-compaction see exactly the old or exactly the
    new table; concurrent epoch appends survive (either inside the
    snapshot, absorbed at swap, or committed after the swap into the new
    current version — the lock leaves no fourth case). repartitionByRange
    (day, hour) keeps per-file ranges disjoint so footer pruning serves
    point lookups post-compaction, same as the batch pass.

    Returns counts for the caller's log line: files/cells before and
    after, plus how many concurrently-appended files the swap absorbed.
    """

    def merge_cells(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("day", "hour")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .repartitionByRange(target_files, "day", "hour")
            .sortWithinPartitions("day", "hour")
        )

    return republish(spark, table_path, merge_cells)


def week_rollup(cells: DataFrame, out: str = "approx_distinct") -> DataFrame:
    """ISO-week distinct rollup from a sketch table alone (q141's rollup
    shape, shared here so the streaming test and any batch reader ask the
    maintained table the identical question)."""
    return cells.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("week_start")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias(out))
