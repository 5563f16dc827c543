"""Streaming scale ladder: MEASURE the streaming half's bounded-state claim.

The batch ladder (tools/scale_ladder.py, round 8) gave every heavy batch
operator a measured growth exponent; the streaming numbers were still
single-size (bench.py, 200k rows). This tool measures what the reference
inherits from its two-generation deduper (deduper.go:17-47 analog) and the
engine asserts but had never measured above one size:

1. THROUGHPUT stays flat as the feed grows — records/sec through
   forward_path (stateless hot path), watermark_dedup (JVM state path:
   dropDuplicatesWithinWatermark) and stateful_dedup (Python state path:
   applyInPandasWithState TTL cache) over feed rungs 200k/400k/800k/1.6M
   rows at a constant 50% adjacent-duplicate rate.
2. STATE stays bounded by the WINDOW, not by history — max state-store
   rows (and bytes) per rung, from StreamingQueryProgress.stateOperators.
   The feeds advance event time 3 ms/row, so the 4-minute watermark holds
   at most 80k ids ≈ 40k duplicate-pair keys regardless of feed length;
   multi-batch execution (maxFilesPerTrigger=1 over N_FILES files) makes
   the watermark actually advance between micro-batches so eviction runs.
   For the Python path the analogous bound is the processing-time TTL: a
   short TTL (vs the run's wall span) must cap live keys below the total
   distinct-key count.
3. KEY-CARDINALITY axis — same feed size, duplicate factor 1x (all
   unique) / 2x / 8x / 32x: throughput must be insensitive to the dup
   rate and state rows must track keys-in-window, not rows.

Methodology matches bench.py: feed written once outside the timed region,
fresh checkpoint per run, elapsed measured to the end of the last
data-bearing batch (bench._data_elapsed), best-of-N. The stateful
(Python) path never self-terminates (bench.py docstring: timer-cleanup
batches loop forever), so the ladder stops it after drain; stop-time
ERROR lines are cosmetic here — this tool's evidence is its JSON lines,
not a stderr tail.

Usage:  python tools/streaming_ladder.py [--rungs 200000,400000,800000,1600000]
        [--passes 2] [--skip-stateful]
Output: one JSON line per measurement plus markdown tables for NOTES_r09.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from nsq2kinesis_spark.session import get_spark

N_FILES = 8  # multi-batch rungs: one file per trigger → N_FILES batches


def write_feed(spark, root: str, n: int, dup_factor: int) -> str:
    """Feed with ts advancing 3 ms/row and dup_factor rows per body key
    (adjacent in event time, like bench.py's watermark_dedup feed)."""
    src = os.path.join(root, f"feed_{n}_{dup_factor}")
    if not os.path.isdir(src):
        spark.range(n).select(
            F.col("id").cast("string").alias("message_id"),
            F.encode(
                F.concat(
                    F.lit("b-"), F.floor(F.col("id") / dup_factor).cast("string")
                ),
                "UTF-8",
            ).alias("body"),
            F.timestamp_millis(F.col("id") * 3).alias("ts"),
        ).coalesce(N_FILES).write.parquet(src)
    return src


def _state_stats(progresses) -> dict:
    rows = [
        op["numRowsTotal"]
        for p in progresses
        for op in p.get("stateOperators", [])
    ]
    mem = [
        op.get("memoryUsedBytes", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    ]
    return {
        "max_state_rows": max(rows) if rows else 0,
        "max_state_bytes": max(mem) if mem else 0,
        "n_batches": sum(1 for p in progresses if p["numInputRows"] > 0),
    }


def watermark_dedup_rung(spark, src: str, n: int, passes: int) -> dict:
    """JVM path, MULTI-BATCH (maxFilesPerTrigger=1): the watermark
    advances between micro-batches, so state eviction actually runs and
    max_state_rows measures the window bound, not the feed size."""
    from nsq2kinesis_spark.streaming.pipeline import dedup_transform

    best, stats = 0.0, {}
    for run in range(passes):
        ckpt = tempfile.mkdtemp(prefix="nsq2k_ladder_ckpt_")
        try:
            stream = (
                spark.readStream.schema(
                    "message_id string, body binary, ts timestamp"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            deduped = dedup_transform(stream, streaming=True)
            start_epoch = time.time()
            q = (
                deduped.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(900):
                q.stop()
                raise RuntimeError("watermark rung did not terminate in 900s")
            rate = n / bench._data_elapsed(q.recentProgress, start_epoch)
            if rate > best:
                best, stats = rate, _state_stats(q.recentProgress)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    return {"recs_per_s": int(best), **stats}


def stateful_dedup_rung(
    spark, root: str, n: int, passes: int, ttl_s: int = 10
) -> dict:
    """Python state path, multi-batch over a SHORT processing-time TTL:
    at this path's ~13k rec/s a 400k+ feed spans several TTLs of wall
    time, so timer eviction fires mid-run and max_state_rows measures
    the generational bound (keys touched within one TTL), not the
    distinct-key count. Stopped after drain (never self-terminates)."""
    from nsq2kinesis_spark.streaming.stateful import (
        DEDUP_OUTPUT_SCHEMA,
        generational_dedup,
    )

    src = os.path.join(root, f"hashfeed_{n}")
    if not os.path.isdir(src):
        spark.range(n).select(
            (F.col("id") % (n // 2)).cast("long").alias("body_hash"),
            F.col("id").cast("string").alias("message_id"),
            F.timestamp_millis(F.col("id") * 3).alias("ts"),
        ).coalesce(N_FILES).write.parquet(src)

    best, stats = 0.0, {}
    for run in range(passes):
        ckpt = tempfile.mkdtemp(prefix="nsq2k_ladder_sckpt_")
        try:
            stream = (
                spark.readStream.schema(DEDUP_OUTPUT_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            deduped = generational_dedup(stream, ttl_s=ttl_s)
            start_epoch = time.time()
            q = (
                deduped.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 second")
                .start()
            )
            progresses = []
            deadline = start_epoch + 900
            while q.isActive and time.time() < deadline:
                progresses = q.recentProgress
                if sum(p["numInputRows"] for p in progresses) >= n:
                    break
                time.sleep(0.1)
            # let one more trigger land so the final batch's state metrics
            # (and any due timer eviction) are reported, then stop
            time.sleep(2.5)
            progresses = q.recentProgress
            q.stop()
            q.awaitTermination(60)
            rate = n / bench._data_elapsed(progresses, start_epoch)
            if rate > best:
                best, stats = rate, _state_stats(progresses)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    return {"recs_per_s": int(best), **stats}


def write_flat_ts_feed(spark, root: str, n: int) -> str:
    """All-unique keys at a CONSTANT event time: the watermark never
    advances, so NOTHING is ever evicted and the dedup state must hold
    every key seen — the adversarial regime that distinguishes the
    on-heap provider (all state in JVM maps) from RocksDB (native memory
    + disk). This is the keys-in-window count grown past the heap, per
    the r9 verdict: the claim worth a number is 'RocksDB completes where
    on-heap does not', not the in-memory-tax percentage."""
    src = os.path.join(root, f"flatfeed_{n}")
    if not os.path.isdir(src):
        spark.range(n).select(
            F.col("id").cast("string").alias("message_id"),
            F.encode(
                F.concat(F.lit("u-"), F.col("id").cast("string")), "UTF-8"
            ).alias("body"),
            # a REAL constant instant, not epoch 0: an all-zero event time
            # collides with the engine's initial watermark and the dedup
            # operator stores nothing (probed — state stayed at ~7 kB for
            # 50k keys); at any ordinary timestamp state grows ~200 B/key
            F.timestamp_millis(F.lit(1_700_000_000_000)).alias("ts"),
        ).coalesce(N_FILES).write.parquet(src)
    return src


def run_oom_probe(n: int, provider: str) -> None:
    """Child-process body for --oom-probe: one watermark_dedup rung over
    the never-evicting feed, inside whatever heap $SPARK_DRIVER_MEMORY
    gave this JVM (local mode: the driver heap IS executor memory).
    Prints one JSON line and exits nonzero on failure so the parent can
    classify completed / OOM / wedged."""
    spark = get_spark(
        app_name="nsq2kinesis_oom_probe",
        rocksdb_state_store=(provider == "rocksdb"),
    )
    root = tempfile.mkdtemp(prefix="nsq2k_oomprobe_")
    try:
        src = write_flat_ts_feed(spark, root, n)
        res = watermark_dedup_rung(spark, src, n, passes=1)
        print(json.dumps({"provider": provider, "n": n, "completed": True, **res}))
    except BaseException as e:  # noqa: BLE001 — the classification IS the output
        print(
            json.dumps(
                {
                    "provider": provider,
                    "n": n,
                    "completed": False,
                    "error": f"{type(e).__name__}: {str(e)[:300]}",
                }
            )
        )
        sys.exit(1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _failure_mode(stdout: str, stderr: str) -> str:
    blob = stdout + stderr
    for marker in ("OutOfMemoryError", "Java heap space", "GC overhead limit"):
        if marker in blob:
            return f"heap exhaustion ({marker})"
    if "did not terminate" in blob:
        return "wedged (GC thrash past the rung deadline)"
    return "failed (see child output)"


def oom_regime(n: int, heap: str) -> None:
    """Parent orchestration for --oom-regime: the same never-evicting rung
    under a deliberately small heap, once per provider, each in a FRESH
    subprocess (driver memory is a JVM-launch setting, and an OOMed JVM
    must not poison the next measurement)."""
    import subprocess

    print(f"# oom regime: n={n} unique keys, heap={heap}, never-evicting watermark")
    for provider in ("default", "rocksdb"):
        env = dict(os.environ, SPARK_DRIVER_MEMORY=heap)
        cmd = [
            sys.executable,
            os.path.abspath(__file__),
            "--oom-probe", str(n),
            "--state-provider", provider,
        ]
        try:
            cp = subprocess.run(
                cmd, env=env, capture_output=True, text=True, timeout=2400
            )
            json_lines = [
                ln for ln in cp.stdout.splitlines() if ln.startswith("{")
            ]
            row = json.loads(json_lines[-1]) if json_lines else {}
            if cp.returncode == 0 and row.get("completed"):
                verdict = "COMPLETED"
            else:
                verdict = _failure_mode(cp.stdout, cp.stderr)
        except subprocess.TimeoutExpired:
            row, verdict = {}, "wedged (no exit within 2400s)"
        print(
            json.dumps(
                {
                    "axis": "oom_regime",
                    "op": "watermark_dedup",
                    "provider": provider,
                    "n": n,
                    "heap": heap,
                    "verdict": verdict,
                    **{k: v for k, v in row.items() if k not in ("provider", "n")},
                },
            ),
            flush=True,
        )


def compaction_impact(n: int, passes: int) -> None:
    """--compaction-impact (round 11): the 'maintenance is free beside
    delivery' claim as numbers. The SAME multi-epoch forwarding pipeline
    (build_pipeline — dedup → metrics → foreachBatch sink, the real
    operator wiring) runs three ways:

      none          delivery only (baseline)
      sketch        + SketchMaintenance appends hourly HLL cells per epoch
      sketch_async  + a thread of this tool calling compact_sketch_table
                    every 0.5 s (an aggressive external cadence), racing
                    the live epochs the whole run

    and reports per-config throughput, compaction passes that ran, and
    the sketch table's final file count / exact cell integrity (cells
    must answer the same rollup in all sketch configs — compaction runs
    BESIDE delivery, so lost-or-doubled cells would show here)."""
    from nsq2kinesis_spark.streaming import sketch_maintenance as sm
    from nsq2kinesis_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        PipelineConfig,
        build_pipeline,
    )
    from nsq2kinesis_spark.versioned_table import current_version

    spark = get_spark(app_name="nsq2kinesis_compaction_impact")
    root = tempfile.mkdtemp(prefix="nsq2k_compact_impact_")
    src = os.path.join(root, f"msg_feed_{n}")
    # 50% duplicate bodies adjacent in event time (the bench feed shape);
    # MESSAGE_SCHEMA columns so build_pipeline runs its real transform
    spark.range(n).select(
        F.col("id").cast("string").alias("message_id"),
        F.encode(
            F.concat(F.lit("m-"), F.floor(F.col("id") / 2).cast("string")), "UTF-8"
        ).alias("body"),
        F.timestamp_millis(F.col("id") * 3).alias("ts"),
        F.lit(1).alias("attempts"),
        F.lit(None).cast("string").alias("key"),
    ).coalesce(N_FILES).write.parquet(src)

    delivered = []

    def noop_sink(df, epoch_id):
        delivered.append(df.count())

    def run_once(tag: str, sketch: bool, compact_every_s: float | None) -> dict:
        table = os.path.join(root, f"sketches_{tag}_{time.monotonic_ns()}")
        ckpt = tempfile.mkdtemp(prefix="nsq2k_ci_ckpt_")
        delivered.clear()
        cfg = PipelineConfig(
            checkpoint_dir=ckpt,
            trigger_processing_time="0 seconds",
            sketch_table=table if sketch else None,
        )
        stop = threading.Event()
        # one entry per compaction pass: None, or the failed pass's error
        passes_run: list[str | None] = []

        def compact_beside_stream() -> None:
            while not stop.wait(compact_every_s):
                if current_version(table) is None:
                    continue  # no table until the first epoch's cells land
                try:
                    sm.compact_sketch_table(spark, table)
                    passes_run.append(None)
                except Exception as e:  # noqa: BLE001 — reported in the row
                    passes_run.append(type(e).__name__)

        compactor = threading.Thread(target=compact_beside_stream, daemon=True)
        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        start_epoch = time.time()
        q = build_pipeline(stream, noop_sink, cfg)
        if compact_every_s:
            compactor.start()
        deadline = start_epoch + 900
        try:
            while time.time() < deadline:
                if sum(p["numInputRows"] for p in q.recentProgress) >= n:
                    break
                time.sleep(0.05)
            else:
                raise RuntimeError(f"{tag}: feed not drained in 900s")
            rate = n / bench._data_elapsed(q.recentProgress, start_epoch)
        finally:
            q.stop()
            q.awaitTermination(60)
            stop.set()
            if compactor.is_alive():
                compactor.join(120)
        row = {"config": tag, "n": n, "recs_per_s": int(rate)}
        if sketch:
            cells = sm.read_sketch_table(spark, table)
            row["files"] = len(cells.inputFiles())
            row["cells"] = cells.count()
            row["distinct_est"] = int(
                sum(
                    r.approx_distinct
                    for r in sm.week_rollup(cells).collect()
                )
            )
            if compact_every_s:
                row["compactions_run"] = passes_run.count(None)
                row["compaction_error"] = next((e for e in passes_run if e), None)
        shutil.rmtree(ckpt, ignore_errors=True)
        return row

    results = []
    try:
        for _ in range(passes):
            for tag, sketch, compact_every_s in (
                ("none", False, None),
                ("sketch", True, None),
                ("sketch_async", True, 0.5),
            ):
                row = run_once(tag, sketch, compact_every_s)
                results.append(row)
                print(json.dumps(row), flush=True)
    finally:
        for active in spark.streams.active:
            try:
                active.stop()
            except Exception:
                pass
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print("\n### compaction impact (markdown for NOTES) ###\n")
    keys = list(dict.fromkeys(k for r in results for k in r))
    print("| " + " | ".join(keys) + " |")
    print("|" + "---|" * len(keys))
    for r in results:
        print("| " + " | ".join(str(r.get(k, "")) for k in keys) + " |")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rungs", default="200000,400000,800000,1600000")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--skip-stateful", action="store_true")
    ap.add_argument(
        "--oom-regime",
        action="store_true",
        help="run ONLY the constrained-heap on-heap-vs-RocksDB probe "
        "(subprocess per provider, $SPARK_DRIVER_MEMORY-sized JVMs)",
    )
    ap.add_argument("--oom-n", type=int, default=4_000_000)
    ap.add_argument("--oom-heap", default="512m")
    ap.add_argument(
        "--oom-probe",
        type=int,
        default=None,
        metavar="N",
        help="(internal) child mode: run one never-evicting rung in THIS "
        "process's heap and print one JSON line",
    )
    ap.add_argument(
        "--state-provider",
        choices=["default", "rocksdb"],
        default="default",
        help="state store for the watermark/stateful paths — 'rocksdb' is "
        "the production spill-to-disk config (round-9 A/B at 400k: "
        "~9-14%% slower than the on-heap default, identical state rows)",
    )
    ap.add_argument(
        "--compaction-impact",
        action="store_true",
        help="run ONLY the forwarding-throughput-with-maintenance rung "
        "(delivery alone vs +sketch appends vs +compact_sketch_table "
        "called every 0.5 s from a thread beside the stream)",
    )
    ap.add_argument("--impact-n", type=int, default=400_000)
    args = ap.parse_args()
    if args.oom_probe is not None:
        run_oom_probe(args.oom_probe, args.state_provider)
        return
    if args.oom_regime:
        oom_regime(args.oom_n, args.oom_heap)
        return
    if args.compaction_impact:
        compaction_impact(args.impact_n, args.passes)
        return
    rungs = [int(x) for x in args.rungs.split(",")]

    spark = get_spark(app_name="nsq2kinesis_streaming_ladder")
    if args.state_provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    root = tempfile.mkdtemp(prefix="nsq2k_streaming_ladder_")
    results = []

    def emit(row: dict) -> None:
        results.append(row)
        print(json.dumps(row), flush=True)

    try:
        # axis 1: feed size at constant 50% duplicate rate
        for n in rungs:
            src = write_feed(spark, root, n, dup_factor=2)
            emit(
                {
                    "axis": "feed_size",
                    "op": "forward_path",
                    "n": n,
                    "recs_per_s": bench.forward_path_throughput(spark, n),
                }
            )
            emit(
                {
                    "axis": "feed_size",
                    "op": "watermark_dedup",
                    "n": n,
                    **watermark_dedup_rung(spark, src, n, args.passes),
                }
            )
            if not args.skip_stateful:
                emit(
                    {
                        "axis": "feed_size",
                        "op": "stateful_dedup",
                        "n": n,
                        **stateful_dedup_rung(spark, root, n, args.passes),
                    }
                )
        # axis 2: key cardinality at fixed feed size
        n2 = rungs[1] if len(rungs) > 1 else rungs[0]
        for dup in (1, 2, 8, 32):
            src = write_feed(spark, root, n2, dup_factor=dup)
            emit(
                {
                    "axis": "key_cardinality",
                    "op": "watermark_dedup",
                    "n": n2,
                    "dup_factor": dup,
                    "distinct_keys": n2 // dup,
                    **watermark_dedup_rung(spark, src, n2, args.passes),
                }
            )
    finally:
        for active in spark.streams.active:
            try:
                active.stop()
            except Exception:
                pass
        shutil.rmtree(root, ignore_errors=True)

    print("\n### streaming ladder (markdown for NOTES) ###")
    for axis in ("feed_size", "key_cardinality"):
        rows = [r for r in results if r["axis"] == axis]
        if not rows:
            continue
        print(f"\n**{axis}**\n")
        keys = list(dict.fromkeys(k for r in rows for k in r if k != "axis"))
        print("| " + " | ".join(keys) + " |")
        print("|" + "---|" * len(keys))
        for r in rows:
            print("| " + " | ".join(str(r.get(k, "")) for k in keys) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
