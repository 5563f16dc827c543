"""The manifest-versioned table protocol (nsq2kinesis_spark/versioned_table.py)
and its sketch-table deployment — the round-10 replacement for the two-rename
directory swap (r9 verdict "What's missing #2" + r9 ADVICE high).

The claims under test, each the exact failure mode of the old swap:

1. a reader polling THROUGH a compaction never errors and always sees
   exactly the old or exactly the new table (old swap: an absence window
   between its two renames);
2. cells appended WHILE a compaction runs survive it (old swap: they rode
   into the trash dir and were rmtree'd — a permanent undercount);
3. crash debris (orphan version dirs from a compactor that died before
   its swap, abandoned staging dirs from a dead writer) is inert —
   invisible to readers — and garbage-collected by the next compaction;
4. the whole protocol needs ONE atomic primitive: replacing a single
   small manifest file — the shape that exists on object storage.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from nsq2kinesis_spark import versioned_table as vt
from nsq2kinesis_spark.streaming.sketch_maintenance import (
    SketchMaintenance,
    compact_sketch_table,
    read_sketch_table,
    week_rollup,
)


def _batch(spark, day: str, hour: int, ids: range):
    """One micro-batch worth of rows: |ids| users inside a single hour."""
    return spark.range(ids.start, ids.stop).select(
        F.col("id").alias("user_id"),
        F.to_timestamp(F.lit(f"{day} {hour:02d}:30:00")).alias("ts"),
    )


def _rollup_map(spark, table_path: str) -> dict:
    return {
        r.week_start: r.approx_distinct
        for r in week_rollup(read_sketch_table(spark, table_path)).collect()
    }


def _age_tree(path: str, age_sec: float) -> None:
    """Back-date every mtime under ``path`` (the dir, subdirs, files) so
    GC's deep write-activity check (_newest_mtime) sees it as dead."""
    old = time.time() - age_sec
    os.utime(path, (old, old))
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            os.utime(os.path.join(root, name), (old, old))


def test_reader_mid_compaction_sees_exactly_old_or_new(spark, tmp_path):
    """Verdict done-criterion: a poll loop during compaction never errors
    and every observation is exactly the fragmented table (cells_before
    rows) or exactly the compacted one (cells_after rows) — never a
    mixture, never path-not-found. Three back-to-back compactions widen
    the window the poller can land in."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    # cardinality 160 keeps the sketches in their exact regime, so rollup
    # equality across republications is EXACT equality (probed: estimates
    # become grouping-sensitive past ~200 distinct at the default lgK)
    for epoch in range(8):
        maint(_batch(spark, "2024-03-04", epoch % 3, range(epoch * 20, epoch * 20 + 20)), epoch)
    legal_counts = {read_sketch_table(spark, table_path).count()}  # 8 cells, dups across hours
    rollup = _rollup_map(spark, table_path)

    errors: list[BaseException] = []
    observations: list[int] = []
    stop = threading.Event()

    def poll():
        try:
            while not stop.is_set():
                observations.append(read_sketch_table(spark, table_path).count())
        except BaseException as e:  # noqa: BLE001 — the assertion IS "no error"
            errors.append(e)

    t = threading.Thread(target=poll)
    t.start()
    try:
        for _ in range(3):
            stats = compact_sketch_table(spark, table_path, target_files=1)
            legal_counts.add(stats["cells_after"])
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    assert len(observations) >= 3  # the poller genuinely overlapped the work
    assert set(observations) <= legal_counts, (set(observations), legal_counts)
    # and the data is untouched by all three republications
    assert _rollup_map(spark, table_path) == rollup
    assert read_sketch_table(spark, table_path).count() == 3  # one cell per hour


def test_concurrent_appends_survive_compaction(spark, tmp_path):
    """The r9 ADVICE-high failure mode: the old directory swap silently
    destroyed any cells appended between the compactor's read and its
    rename. Here a writer thread keeps appending NEW hours (fresh user-id
    ranges, so every lost cell would dent the exact distinct count) while
    a compactor thread loops; afterwards the table must answer EXACTLY
    the rollup of everything ever appended."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 15)), 0)

    compactor_errors: list[BaseException] = []
    appends_done = threading.Event()

    def compact_loop():
        try:
            while not appends_done.is_set():
                compact_sketch_table(spark, table_path, target_files=1)
        except BaseException as e:  # noqa: BLE001
            compactor_errors.append(e)

    t = threading.Thread(target=compact_loop)
    t.start()
    n_epochs = 12
    try:
        for epoch in range(1, n_epochs):
            # distinct hours and DISJOINT id ranges: every epoch's cell is
            # individually visible in the final exact count
            maint(
                _batch(spark, "2024-03-04", epoch % 24, range(epoch * 100, epoch * 100 + 15)),
                epoch,
            )
    finally:
        appends_done.set()
        t.join(120)
    assert not compactor_errors, compactor_errors
    assert maint.epochs_applied == n_epochs
    hours = {
        (r.day, r.hour) for r in read_sketch_table(spark, table_path).collect()
    }
    assert len(hours) == 12, sorted(hours)  # no appended hour was destroyed
    # exact: 12 disjoint 15-id ranges -> 180 distinct, inside the
    # sketches' exact regime, so one destroyed cell = a visible dent
    est = sum(_rollup_map(spark, table_path).values())
    assert est == 180, est


def test_legacy_flat_table_migrates_in_place(spark, tmp_path):
    """A pre-round-10 table (part files at the root, no manifest) keeps
    working: readers fall back to the flat layout, the first append
    migrates it under the commit lock (atomic renames), and nothing is
    lost across the migration."""
    table_path = str(tmp_path / "sketches")
    _batch(spark, "2024-03-04", 0, range(0, 50)).groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk")).write.parquet(table_path)
    assert vt.current_version(table_path) is None
    before = _rollup_map(spark, table_path)  # legacy read path

    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 1, range(50, 80)), 1)
    assert vt.current_version(table_path) is not None  # migrated
    assert read_sketch_table(spark, table_path).count() == 2
    assert sum(_rollup_map(spark, table_path).values()) == 80
    assert sum(before.values()) == 50
    # the flat root's part files survive the migration (hardlinked, not
    # moved — an in-flight flat-layout reader keeps its files) and are
    # collected by a later compaction once past the staleness grace
    leftovers = vt._data_files(table_path)
    assert leftovers, "migration must leave the flat files for old readers"
    old = time.time() - 2 * vt.GC_GRACE_SEC
    for f in leftovers:
        os.utime(f, (old, old))
    compact_sketch_table(spark, table_path)
    assert not vt._data_files(table_path)
    assert sum(_rollup_map(spark, table_path).values()) == 80


def test_crash_debris_is_invisible_and_collected(spark, tmp_path):
    """Compactor dies after writing its new version dir but before the
    manifest swap; a writer dies leaving a staging dir. Both are invisible
    to readers (nothing points to them) and removed by the next successful
    compaction's GC."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    for epoch in range(3):
        maint(_batch(spark, "2024-03-04", epoch, range(epoch * 10, epoch * 10 + 10)), epoch)
    rollup = _rollup_map(spark, table_path)

    # crash-equivalent states, constructed directly (and back-dated past
    # the GC write-activity grace — debris from a FRESH crash is spared
    # one grace period precisely so GC can't kill a live writer):
    orphan_version = os.path.join(table_path, "v-999999-deadbeef")
    os.makedirs(orphan_version)
    read_sketch_table(spark, table_path).limit(1).write.parquet(
        orphan_version, mode="overwrite"
    )
    _age_tree(orphan_version, 2 * vt.GC_GRACE_SEC)
    stale_staging = vt.new_staging_dir(table_path)
    _age_tree(stale_staging, 2 * vt.GC_GRACE_SEC)

    assert _rollup_map(spark, table_path) == rollup  # debris invisible
    compact_sketch_table(spark, table_path, target_files=1)
    assert not os.path.exists(orphan_version)
    assert not os.path.exists(stale_staging)
    assert _rollup_map(spark, table_path) == rollup


def test_gc_is_generation_delayed(spark, tmp_path):
    """The just-replaced version dir survives one compaction cycle (a
    reader that resolved right before the swap can finish its scan).
    Older generations are ALSO spared while they still show recent write
    activity (the r10-verdict race: a non-kept dir might be a concurrent
    compactor's in-flight output) and are collected once quiescent past
    the grace."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 10)), 0)
    names = []
    for _ in range(3):
        names.append(compact_sketch_table(spark, table_path)["version"])
    on_disk = {e for e in os.listdir(table_path) if e.startswith(vt.VERSION_PREFIX)}
    assert names[-1] in on_disk  # current
    assert names[-2] in on_disk  # previous: kept one cycle
    # grandparent: non-kept but FRESH — spared by the write-activity grace
    assert names[0] in on_disk
    # once quiescent past the grace, the next cycle collects it
    _age_tree(os.path.join(table_path, names[0]), 2 * vt.GC_GRACE_SEC)
    names.append(compact_sketch_table(spark, table_path)["version"])
    on_disk = {e for e in os.listdir(table_path) if e.startswith(vt.VERSION_PREFIX)}
    assert names[0] not in on_disk  # aged grandparent: collected
    assert names[1] in on_disk  # still fresh: spared until quiescent
    assert {names[2], names[3]} <= on_disk  # previous + current


def test_swap_refuses_concurrent_compaction(spark, tmp_path):
    """Two compactors racing: the one whose manifest check fails under the
    lock must ABORT (its candidate dir discarded), never publish over the
    winner — and it must reach that PROTOCOL abort, not die mid-write,
    which means the winner's post-swap GC has to spare the loser's
    still-fresh in-flight version dir (r10 verdict What's-wrong #2: the
    old GC rmtree'd any non-kept version dir instantly, so the loser's
    Spark job failed with a task-level FileNotFound instead)."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 10)), 0)
    prev = vt.current_version(table_path)
    new_dir = os.path.join(table_path, vt._next_version_name(prev))
    read_sketch_table(spark, table_path).write.parquet(new_dir)
    # the "other compactor" wins first:
    compact_sketch_table(spark, table_path)
    # the loser's in-flight dir survived the winner's GC (write-activity
    # grace), so the loser proceeds to its own commit attempt...
    assert os.path.isdir(new_dir)
    assert vt._data_files(new_dir), "loser's in-flight output was GC'd mid-write"
    # ...and dies at the protocol's own loud abort
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        vt.swap_version(table_path, prev, new_dir, snapshot=set())


def test_gc_spares_live_slow_staging_write(spark, tmp_path):
    """r10 ADVICE medium: a micro-batch append whose Spark write outlives
    any lock hold keeps its activity under _staging-*/_temporary/ without
    refreshing the staging ROOT's mtime. GC must measure write activity
    DEEP (newest mtime anywhere under the dir), so:

    - a staging dir with an ancient root mtime but one freshly-written
      task file is LIVE — never collected;
    - the same dir with every mtime past the grace is dead — collected.
    """
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 10)), 0)

    slow = vt.new_staging_dir(table_path)
    tmp_dir = os.path.join(slow, "_temporary", "0")
    os.makedirs(tmp_dir)
    _age_tree(slow, 2 * vt.GC_GRACE_SEC)  # root + skeleton look ancient
    with open(os.path.join(tmp_dir, "task-attempt-0.parquet.inprogress"), "wb") as fh:
        fh.write(b"live")  # ...but the job is mid-write RIGHT NOW
    compact_sketch_table(spark, table_path)
    assert os.path.isdir(slow), "GC collected a staging dir with live write activity"

    _age_tree(slow, 2 * vt.GC_GRACE_SEC)  # now genuinely dead
    compact_sketch_table(spark, table_path)
    assert not os.path.exists(slow)


def test_append_staged_raises_on_vanished_staging_dir(spark, tmp_path):
    """r10 ADVICE medium, second half: if the staging dir disappears
    between the Spark write and the commit (GC bug, operator rm), the
    append must FAIL the epoch — returning 0 would let Structured
    Streaming checkpoint-commit with the cells silently dropped, the
    permanent-undercount class the protocol exists to kill."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 10)), 0)
    gone = os.path.join(table_path, f"{vt.STAGING_PREFIX}vanished")
    with pytest.raises(FileNotFoundError, match="staging dir .* vanished"):
        vt.append_staged(table_path, gone)


def test_crash_between_staging_write_and_commit_heals_on_replay(spark, tmp_path):
    """Mid-append crash injection (r11 verdict #5c): a writer dying
    between its staging write and append_staged leaves exactly an
    uncommitted staging dir. No partial cell may ever be visible, and the
    replayed epoch (Structured Streaming redelivers an uncommitted
    micro-batch) must heal the table to the exact expected contents."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 15)), 0)
    rollup = _rollup_map(spark, table_path)

    # the crash state, constructed exactly: cells written to staging,
    # append_staged never ran (the process died in between)
    batch = _batch(spark, "2024-03-04", 1, range(100, 130))
    cells = batch.groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    staging = vt.new_staging_dir(table_path)
    cells.write.parquet(staging, mode="overwrite")

    # nothing of the dead epoch is visible — not a row, not a partial cell
    assert read_sketch_table(spark, table_path).count() == 1
    assert _rollup_map(spark, table_path) == rollup

    # the replayed epoch commits through the normal path and heals exactly
    maint(batch, 1)
    assert read_sketch_table(spark, table_path).count() == 2
    assert sum(_rollup_map(spark, table_path).values()) == 45
    # the dead writer's staging dir is inert debris; once quiescent past
    # the grace, compaction's GC collects it
    _age_tree(staging, 2 * vt.GC_GRACE_SEC)
    compact_sketch_table(spark, table_path)
    assert not os.path.exists(staging)
    assert sum(_rollup_map(spark, table_path).values()) == 45


def test_commit_lock_blocks_then_breaks_stale(tmp_path):
    """The lock serializes commits (second acquirer times out while held)
    and self-heals from a dead holder (stale lock broken by rename, so
    two breakers cannot both win)."""
    table_path = str(tmp_path / "t")
    with vt.commit_lock(table_path):
        with pytest.raises(TimeoutError):
            with vt.commit_lock(table_path, timeout=0.2):
                pass
    # dead holder: lock file exists with an ancient mtime
    lock = os.path.join(table_path, vt.LOCK)
    with open(lock, "w") as fh:
        fh.write("0\n")
    old = time.time() - 2 * vt.LOCK_STALE_SEC
    os.utime(lock, (old, old))
    with vt.commit_lock(table_path, timeout=5):
        pass  # acquired despite the debris


def test_batch_compaction_in_place_with_live_readers(spark, tmp_path):
    """The batch analog (r9 verdict #3's second half): compact ANY
    fragmented parquet table IN PLACE through the same manifest protocol
    — rows preserved exactly, file count cut to target, disjoint per-file
    key ranges for footer pruning — while a reader poll loop observes a
    complete table at every instant. The old demonstration
    (test_plans.py::test_compaction_restores_file_layout) had to compact
    into a SEPARATE directory because an in-place swap wasn't safe."""
    table_path = str(tmp_path / "tbl")
    n = 20_000
    spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
    ).repartition(48).write.parquet(table_path)
    assert len(vt._data_files(table_path)) >= 32  # genuinely fragmented

    errors: list[BaseException] = []
    observations: list[int] = []
    stop = threading.Event()

    def poll():
        try:
            while not stop.is_set():
                observations.append(vt.read_table(spark, table_path).count())
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t = threading.Thread(target=poll)
    t.start()
    try:
        stats = vt.compact_parquet_table(spark, table_path, ["k"], target_files=4)
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    assert observations and set(observations) == {n}  # never partial, never absent
    assert stats["files_after"] <= 4 < stats["files_before"]
    assert stats["cells_after"] == stats["cells_before"] == n  # row-preserving

    got = vt.read_table(spark, table_path)
    assert got.count() == n
    assert got.agg(F.sum("k")).first()[0] == n * (n - 1) // 2  # content intact
    # disjoint per-file key ranges → a point filter prunes to ONE file
    bounds = []
    for f in sorted(got.inputFiles()):
        agg = spark.read.parquet(f.removeprefix("file:")).agg(
            F.min("k"), F.max("k")
        ).first()
        bounds.append((agg[0], agg[1]))
    bounds.sort()
    for (_, prev_hi), (next_lo, _) in zip(bounds, bounds[1:]):
        assert prev_hi < next_lo, bounds


def test_compaction_of_empty_table_is_a_noop(spark, tmp_path):
    """A table whose epochs were all empty (or brand-new) compacts as a
    clean no-op — zero stats, no new version, no Spark call over an
    empty path list — and stale-lock husks left by break-by-rename are
    collected by the next real compaction. A path that holds no table at
    all is refused, and nothing is created there."""
    for missing in (str(tmp_path / "missing"), str(tmp_path)):
        with pytest.raises(FileNotFoundError) as refused:
            compact_sketch_table(spark, missing)
        assert missing in str(refused.value)
    assert os.listdir(tmp_path) == []
    table_path = str(tmp_path / "sketches")
    with vt.commit_lock(table_path):
        vt.ensure_versioned_locked(table_path)
    before = vt.current_version(table_path)
    stats = compact_sketch_table(spark, table_path)
    assert stats == {
        "files_before": 0,
        "cells_before": 0,
        "version": before,
        "absorbed": 0,
        "files_after": 0,
        "cells_after": 0,
    }
    assert vt.current_version(table_path) == before

    husk = os.path.join(table_path, vt.LOCK + ".stale-deadbeef")
    open(husk, "w").close()
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 10)), 0)
    compact_sketch_table(spark, table_path)
    assert not os.path.exists(husk)


def test_protocol_holds_on_object_store_shaped_rename(spark, tmp_path, monkeypatch):
    """Turn the S3-shape claim into a test (r10 verdict What's-missing #2):
    every protocol-side rename is replaced by an object-store-shaped one —

    - directory rename DOES NOT EXIST (the shim asserts it is never
      attempted);
    - file rename = copy to an invisible in-flight key, then the PUT
      completes (destination appears atomically, whole or absent — the
      one guarantee S3-class stores give), then the SOURCE is deleted
      LATER on its own timer, so listings keep showing the dead key for a
      while (delete visibility lag).

    Under that model, appends + overlapping compactions + a polling
    reader must still give the exactly-old-or-new guarantee and lose
    nothing. Spark's own JVM-side writes are out of scope by design: the
    protocol only ever commits via single-file operations of its own.
    """
    import shutil
    import uuid as uuidmod

    real_rename = os.rename
    timers: list[threading.Timer] = []

    def deferred_delete(path):
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass  # DELETE of an already-gone key succeeds on a store

    def put_style_rename(src, dst, **kwargs):
        assert not os.path.isdir(src), f"protocol attempted a directory rename: {src}"
        inflight = f"{dst}.inflight-{uuidmod.uuid4().hex[:8]}"
        shutil.copy2(src, inflight)
        real_rename(inflight, dst)  # the PUT completing: atomic appearance
        t = threading.Timer(0.05, deferred_delete, args=(src,))
        t.start()
        timers.append(t)

    monkeypatch.setattr(os, "rename", put_style_rename)
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    errors: list[BaseException] = []
    observations: list[int] = []
    stop = threading.Event()

    def poll():
        try:
            while not stop.is_set():
                observations.append(read_sketch_table(spark, table_path).count())
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    maint(_batch(spark, "2024-03-04", 0, range(0, 15)), 0)
    t = threading.Thread(target=poll)
    t.start()
    try:
        for epoch in range(1, 8):
            maint(
                _batch(spark, "2024-03-04", epoch, range(epoch * 100, epoch * 100 + 15)),
                epoch,
            )
            if epoch % 3 == 0:
                compact_sketch_table(spark, table_path, target_files=1)
    finally:
        stop.set()
        t.join(60)
        for tm in timers:
            tm.join(5)
    assert not errors, errors
    assert observations, "poller never observed the table"
    # 8 disjoint 15-id hours: exact distinct count, nothing lost or doubled
    hours = {(r.day, r.hour) for r in read_sketch_table(spark, table_path).collect()}
    assert len(hours) == 8
    assert sum(_rollup_map(spark, table_path).values()) == 120


def test_compactor_killed_mid_swap_reads_exactly_old(spark, tmp_path):
    """kill -9 a REAL subprocess compactor between its absorb pass and the
    manifest rename (r11 verdict #4c — the narrowest crash window the
    protocol has). Afterwards the table must read exactly-old, the dead
    holder's commit lock must be breakable, and the next compaction must
    collect the orphan version dir once quiescent."""
    import subprocess
    import sys as _sys
    import textwrap

    table_path = str(tmp_path / "tbl")
    n = 5_000
    spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(6).write.parquet(table_path)
    with vt.commit_lock(table_path):
        vt.ensure_versioned_locked(table_path)
    prev = vt.current_version(table_path)

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import os, signal, sys
        sys.path.insert(0, sys.argv[2])
        from nsq2kinesis_spark import versioned_table as vt
        table = sys.argv[1]
        prev = vt.current_version(table)
        prev_dir = os.path.join(table, prev)
        files = sorted(vt._data_files(prev_dir))
        # snapshot all but one file: the leftover models a concurrent
        # append landing after the snapshot, so the absorb pass runs
        snapshot = set(files[:-1])
        new_dir = os.path.join(table, vt._next_version_name(prev))
        os.makedirs(new_dir)
        import pyarrow as pa, pyarrow.parquet as pq
        merged = pa.concat_tables([pq.read_table(f) for f in sorted(snapshot)])
        pq.write_table(merged, os.path.join(new_dir, "part-00000-merged.parquet"))
        # die EXACTLY between the absorb copies and the manifest rename
        vt._write_manifest = lambda *a, **k: os.kill(os.getpid(), signal.SIGKILL)
        vt.swap_version(table, prev, new_dir, snapshot)
        """
    )
    proc = subprocess.run(
        [_sys.executable, "-c", script, table_path, repo_root],
        capture_output=True,
        timeout=120,
    )
    assert proc.returncode == -9, (proc.returncode, proc.stderr.decode()[-500:])

    # exactly-old: the manifest never moved, the data is complete
    assert vt.current_version(table_path) == prev
    got = vt.read_table(spark, table_path)
    assert got.count() == n
    assert got.agg(F.sum("v")).first()[0] == n * (n - 1)
    # the dead compactor's debris: an orphan version dir (with the absorb
    # copy inside it) and a held lock
    orphans = [
        e
        for e in os.listdir(table_path)
        if e.startswith(vt.VERSION_PREFIX) and e != prev
    ]
    assert orphans, "subprocess died before creating its version dir?"
    assert os.path.exists(os.path.join(table_path, vt.LOCK))

    # recovery: the lock is stale (holder dead) — age it and the orphan,
    # then one normal compaction breaks the lock, republishes, and GCs
    lock = os.path.join(table_path, vt.LOCK)
    old = time.time() - 2 * vt.LOCK_STALE_SEC
    os.utime(lock, (old, old))
    for o in orphans:
        _age_tree(os.path.join(table_path, o), 2 * vt.GC_GRACE_SEC)
    stats = vt.compact_parquet_table(spark, table_path, ["k"], target_files=2)
    assert stats["cells_after"] == n
    for o in orphans:
        assert not os.path.exists(os.path.join(table_path, o))
    got = vt.read_table(spark, table_path)
    assert got.count() == n and got.agg(F.sum("v")).first()[0] == n * (n - 1)


def test_lock_root_redirect_for_hostile_filesystems(spark, tmp_path, monkeypatch):
    """NSQ2K_LOCK_ROOT (round 11, closing the NFS residual): a deployment
    whose table filesystem lacks reliable O_CREAT|O_EXCL redirects only
    the tiny lock files to a reliable path — the data dirs stay put. The
    lock must still mutually exclude, stale-break, namespace per table,
    and leave the table dir free of lock artifacts; the full
    append+compact cycle must work under the redirect, and break-husks
    in the lock root are GC'd."""
    lock_root = str(tmp_path / "lockroot")
    monkeypatch.setenv("NSQ2K_LOCK_ROOT", lock_root)
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 15)), 0)
    maint(_batch(spark, "2024-03-04", 1, range(100, 115)), 1)
    compact_sketch_table(spark, table_path, target_files=1)
    assert sum(_rollup_map(spark, table_path).values()) == 30
    # no lock artifacts in the table dir; exactly one lock name in root
    assert not any(e.startswith(vt.LOCK) for e in os.listdir(table_path))
    # mutual exclusion still holds through the redirected path
    with vt.commit_lock(table_path):
        assert any(e.startswith(vt.LOCK + "-") for e in os.listdir(lock_root))
        with pytest.raises(TimeoutError):
            with vt.commit_lock(table_path, timeout=0.2):
                pass
    # two tables never share a lock
    other = str(tmp_path / "other_table")
    with vt.commit_lock(table_path):
        with vt.commit_lock(other, timeout=0.5):
            pass  # no contention: different digest
    # a dead holder's redirected lock stale-breaks, and the husk is GC'd
    lock = vt._lock_path(table_path)
    with open(lock, "w") as fh:
        fh.write("0\n")
    old = time.time() - 2 * vt.LOCK_STALE_SEC
    os.utime(lock, (old, old))
    compact_sketch_table(spark, table_path, target_files=1)  # breaks + commits
    assert sum(_rollup_map(spark, table_path).values()) == 30
    husks = [e for e in os.listdir(lock_root) if ".stale-" in e]
    assert not husks, husks


def test_partial_append_crash_heals_idempotently_on_replay(spark, tmp_path):
    """The last crash-matrix cell: a writer dying MID-append_staged —
    after renaming some staging files into the version dir but before
    the rest. The partially-appended cells become VISIBLE (they are in
    the current version), the epoch never checkpoint-commits, and the
    replay appends the full batch again — so some (day, hour) cells
    exist twice. That is exactly the at-least-once contract the sketch
    algebra absorbs: HLL register union is idempotent, so every rollup
    is unchanged, and the next compaction merges the duplicate cells
    away. Asserted end-to-end with exact-regime cardinalities."""
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    maint(_batch(spark, "2024-03-04", 0, range(0, 15)), 0)

    # the doomed epoch spans TWO hours -> two staging part files after
    # repartition; rename exactly one in (the mid-append crash state)
    batch = _batch(spark, "2024-03-04", 1, range(100, 115)).unionAll(
        _batch(spark, "2024-03-04", 2, range(200, 215))
    )
    cells = (
        batch.groupBy(F.to_date("ts").alias("day"), F.hour("ts").alias("hour"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .repartition(2, "day", "hour")
    )
    staging = vt.new_staging_dir(table_path)
    cells.write.parquet(staging, mode="overwrite")
    staged = vt._data_files(staging)
    assert len(staged) == 2, staged
    vdir = os.path.join(table_path, vt.current_version(table_path))
    os.rename(staged[0], os.path.join(vdir, os.path.basename(staged[0])))
    # crash here: epoch uncommitted, one file visible, one stranded

    # the replayed epoch commits the FULL batch through the normal path
    maint(batch, 1)
    # idempotent: the rollup answers exactly 45 distinct despite the
    # duplicate cell(s) from the partial first attempt
    assert sum(_rollup_map(spark, table_path).values()) == 45
    # compaction merges the duplicates away and the answer still holds
    stats = compact_sketch_table(spark, table_path, target_files=1)
    assert stats["cells_after"] == 3  # one per (day, hour)
    assert sum(_rollup_map(spark, table_path).values()) == 45


def test_multiwriter_append_contention_is_exact(spark, tmp_path):
    """Multi-WRITER protocol claim (round-11 extended session): the
    commit lock must serialize SEVERAL independent appenders — the
    two-pipelines-one-table and batch-backfill-beside-the-stream
    shapes — each with its own SketchMaintenance instance and staging
    dir, while a compactor loops through the same lock. Every appended
    cell must survive: 12 disjoint 15-id ranges across 12 distinct
    hours, so one lost (or doubled) staged file dents the exact rollup.
    This is the contention lane the single-writer tests never enter:
    lock waits under append-vs-append races, not just append-vs-compact."""
    table_path = str(tmp_path / "sketches")
    n_writers, epochs_each = 3, 4
    errors: list[BaseException] = []
    appends_done = threading.Event()

    def appender(writer_idx: int):
        try:
            maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
            for e in range(epochs_each):
                slot = writer_idx * epochs_each + e
                maint(
                    _batch(spark, "2024-03-04", slot % 24,
                           range(slot * 100, slot * 100 + 15)),
                    e,
                )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    def compact_loop():
        try:
            while not appends_done.is_set():
                # compaction refuses a path that holds no table yet: join
                # once the first append has created it
                if vt.current_version(table_path) is None:
                    time.sleep(0.01)
                    continue
                compact_sketch_table(spark, table_path, target_files=1)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    writers = [threading.Thread(target=appender, args=(i,)) for i in range(n_writers)]
    compactor = threading.Thread(target=compact_loop)
    for t in writers:
        t.start()
    compactor.start()
    try:
        for t in writers:
            t.join(300)
    finally:
        appends_done.set()
        compactor.join(120)
    assert not any(t.is_alive() for t in writers), "appender deadlocked"
    assert not errors, errors

    hours = {(r.day, r.hour) for r in read_sketch_table(spark, table_path).collect()}
    assert len(hours) == n_writers * epochs_each, sorted(hours)
    est = sum(_rollup_map(spark, table_path).values())
    assert est == n_writers * epochs_each * 15, est
    # and the table still compacts to one file afterwards
    compact_sketch_table(spark, table_path, target_files=1)
    data_dir = vt.resolve_data_dir(table_path)
    files = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert len(files) == 1, files
    assert sum(_rollup_map(spark, table_path).values()) == n_writers * epochs_each * 15


def test_multiwriter_contention_under_object_store_rename(
    spark, tmp_path, monkeypatch
):
    """Capstone lane (round-11 extended session): the two hardest
    conditions COMBINED — several independent appenders racing each
    other and a looping compactor through the commit lock, while every
    protocol-side rename runs the object-store shape (copy to invisible
    in-flight key → atomic appearance → deferred source delete, so
    listings keep showing dead keys; directory rename asserted never
    attempted). Exactness bar is the same as the POSIX multi-writer
    test: 8 disjoint 15-id hour cells, nothing lost or doubled, and the
    table still compacts to one file afterwards."""
    import shutil
    import uuid as uuidmod

    real_rename = os.rename
    timers: list[threading.Timer] = []

    def deferred_delete(path):
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def put_style_rename(src, dst, **kwargs):
        assert not os.path.isdir(src), f"protocol attempted a directory rename: {src}"
        inflight = f"{dst}.inflight-{uuidmod.uuid4().hex[:8]}"
        shutil.copy2(src, inflight)
        real_rename(inflight, dst)
        t = threading.Timer(0.05, deferred_delete, args=(src,))
        t.start()
        timers.append(t)

    monkeypatch.setattr(os, "rename", put_style_rename)
    table_path = str(tmp_path / "sketches")
    n_writers, epochs_each = 2, 4
    errors: list[BaseException] = []
    appends_done = threading.Event()

    def appender(writer_idx: int):
        try:
            maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
            for e in range(epochs_each):
                slot = writer_idx * epochs_each + e
                maint(
                    _batch(spark, "2024-03-04", slot % 24,
                           range(slot * 100, slot * 100 + 15)),
                    e,
                )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    def compact_loop():
        try:
            while not appends_done.is_set():
                # compaction refuses a path that holds no table yet: join
                # once the first append has created it
                if vt.current_version(table_path) is None:
                    time.sleep(0.01)
                    continue
                compact_sketch_table(spark, table_path, target_files=1)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    writers = [threading.Thread(target=appender, args=(i,)) for i in range(n_writers)]
    compactor = threading.Thread(target=compact_loop)
    for t in writers:
        t.start()
    compactor.start()
    try:
        for t in writers:
            t.join(300)
    finally:
        appends_done.set()
        compactor.join(120)
        for tm in timers:
            tm.join(5)
    assert not any(t.is_alive() for t in writers), "appender deadlocked"
    assert not errors, errors

    total = n_writers * epochs_each
    hours = {(r.day, r.hour) for r in read_sketch_table(spark, table_path).collect()}
    assert len(hours) == total, sorted(hours)
    assert sum(_rollup_map(spark, table_path).values()) == total * 15
    compact_sketch_table(spark, table_path, target_files=1)
    data_dir = vt.resolve_data_dir(table_path)
    files = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert len(files) == 1, files
    assert sum(_rollup_map(spark, table_path).values()) == total * 15
