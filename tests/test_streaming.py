"""Streaming-path tests: NSQ source → dedup/filter/key transforms → KPL
packing → Kinesis-shaped sink, end-to-end through Structured Streaming,
plus unit tests of the sink's chunking/retry and the batch/streaming twin
equivalence (SURVEY.md §5 adopted strategy)."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from nsq2kinesis_spark.streaming.kinesis_sink import (
    FakeKinesisClient,
    KinesisSink,
    SpoolingKinesisClient,
    read_spool,
    send_entries,
)
from nsq2kinesis_spark.streaming.kpl import (
    KplAggregator,
    PackedEntry,
    deaggregate,
    default_partition_key,
    is_aggregated,
)
from nsq2kinesis_spark.streaming.pipeline import (
    PipelineConfig,
    build_pipeline,
    forwarding_transform,
)

from .fake_nsqd import FakeNsqd


# --- sink unit tests (driver-side, no Spark) --------------------------------


def _entries(n: int, size: int = 10) -> list[PackedEntry]:
    return [
        PackedEntry(data=bytes([i % 256]) * size, partition_key=f"k{i}", slots=[i])
        for i in range(n)
    ]


def test_chunking_500_record_limit():
    client = FakeKinesisClient()
    n_calls, _ = send_entries(client, "s", _entries(1201))
    assert n_calls == 3
    assert [len(c) for c in client.calls] == [500, 500, 201]


def test_chunking_byte_limit():
    client = FakeKinesisClient()
    big = [PackedEntry(data=b"x" * 2_000_000, partition_key="k", slots=[i]) for i in range(5)]
    n_calls, _ = send_entries(client, "s", big)
    # 2 MB each, 4.9 MB cap → 2 per call
    assert [len(c) for c in client.calls] == [2, 2, 1]
    assert n_calls == 3


def test_selective_retry_resends_only_failed_slots():
    """Reference kinesis_writer.go:114-126: only failed records resend."""
    client = FakeKinesisClient(fail_plan={0: {1, 3}})
    n_calls, n_retried = send_entries(client, "s", _entries(5), sleep=lambda _: None)
    assert n_calls == 2
    assert n_retried == 2
    assert [len(c) for c in client.calls] == [5, 2]
    assert len(client.received) == 5


def test_retry_exhaustion_raises():
    client = FakeKinesisClient(fail_plan={i: {0} for i in range(10)})
    with pytest.raises(RuntimeError, match="still failing"):
        send_entries(client, "s", _entries(2), max_retries=2, sleep=lambda _: None)


def test_whole_call_failure_backs_off_longer():
    """Whole-call throttling (every slot failed) waits with the long
    whole-call backoff; a partial failure keeps the short per-slot one
    (the policy the reference left as TODO, kinesis_writer.go:101-104)."""
    slept: list[float] = []

    # call 0: all 3 fail (whole-call); call 1: 1 of 3 fails (partial)
    client = FakeKinesisClient(fail_plan={0: {0, 1, 2}, 1: {0}})
    n_calls, n_retried = send_entries(
        client,
        "s",
        _entries(3),
        backoff_s=0.01,
        whole_call_backoff_s=1.0,
        sleep=slept.append,
    )
    assert n_calls == 3
    assert n_retried == 4  # 3 whole-call + 1 partial
    assert slept == [1.0 * 1, 0.01 * 2]  # long base then short base (×2^attempt)
    assert len(client.received) == 3


# --- batch twin of the forwarding transform ---------------------------------


def test_forwarding_transform_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    rows = [
        ("m1", b"payload-a", "2024-01-01 00:00:00", 1, "good-key"),
        ("m2", b"payload-a", "2024-01-01 00:00:01", 1, "good-key"),  # dup body
        ("m3", b"payload-b", "2024-01-01 00:00:02", 1, ""),  # invalid key → hash
        ("m4", b"x" * ((1 << 20) + 1), "2024-01-01 00:00:03", 1, None),  # body over 1 MiB
        ("m5", b"payload-c", "2024-01-01 00:00:04", 1, "k" * 256),  # key too long
        ("m6", b"y" * (1 << 20), "2024-01-01 00:00:05", 1, "key"),  # 1 MiB + key
    ]
    df = spark.createDataFrame(
        [(a, b, c, d, e) for a, b, c, d, e in rows],
        "message_id string, body binary, ts string, attempts int, key string",
    ).selectExpr("message_id", "body", "CAST(ts AS TIMESTAMP) ts", "attempts", "key")
    transformed = forwarding_transform(df, streaming=False)
    out = transformed.orderBy("message_id").collect()
    ids = [r.message_id for r in out]
    assert len([i for i in ids if i in ("m1", "m2")]) == 1  # body dedup
    by_id = {r.message_id: r for r in out}
    m3_hash = (
        df.filter("message_id = 'm3'")
        .select(F.lower(F.hex(F.xxhash64("body"))).alias("h"))
        .first()
        .h
    )
    assert by_id["m3"].partition_key == m3_hash  # hash fallback
    assert by_id["m5"].partition_key != "k" * 256

    # the sink owns the 1 MiB record limit (body plus partition key): both
    # oversize rows reach it, are counted and never delivered
    spool = tmp_path / "spool"
    spool.mkdir()
    sink = KinesisSink(stream="t", client_factory=lambda: SpoolingKinesisClient(str(spool)))
    sink(transformed, 0)
    assert sink.metrics[-1].n_oversize_dropped == 2
    delivered = []
    for _pk, data in read_spool(str(spool)):
        if is_aggregated(data):
            delivered.extend(d for _, d in deaggregate(data))
        else:
            delivered.append(data)
    assert rows[3][1] not in delivered and rows[5][1] not in delivered
    assert len(delivered) == len(out) - 2


# --- end-to-end: fake nsqd → Structured Streaming → spooled Kinesis ---------


def test_frame_parser_survives_any_chunking():
    """Property: the wire parser reassembles the SAME message sequence no
    matter how the TCP stream is fragmented (single bytes, mid-size-prefix
    splits, coalesced frames) and with heartbeats interleaved anywhere —
    the generalization of the mid-frame resync test."""
    import socket as _socket

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nsq2kinesis_spark.sources.nsq import NsqConnection

    from .fake_nsqd import _frame, _message_frame

    @given(
        bodies=st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=6),
        cuts=st.lists(st.integers(min_value=1, max_value=400), max_size=12),
        hb_positions=st.sets(st.integers(min_value=0, max_value=5), max_size=3),
    )
    @settings(max_examples=25, deadline=None)
    def check(bodies, cuts, hb_positions):
        stream = b""
        for i, body in enumerate(bodies):
            if i in hb_positions:
                stream += _frame(0, b"_heartbeat_")
            stream += _message_frame(f"{i:016d}", body)
        a, b = _socket.socketpair()
        try:
            conn = NsqConnection.__new__(NsqConnection)
            conn.sock = a
            conn._buf = bytearray()
            conn._rdy = 100
            conn._last_frame = time.monotonic()
            # fragment the byte stream at arbitrary cut points
            offsets = sorted({min(c, len(stream)) for c in cuts})
            pieces, prev = [], 0
            for off in offsets + [len(stream)]:
                if off > prev:
                    pieces.append(stream[prev:off])
                    prev = off
            for piece in pieces:
                b.sendall(piece)
            got = []
            deadline = time.time() + 5
            while len(got) < len(bodies) and time.time() < deadline:
                got.extend(conn.poll(100, 0.2))
            assert [(m[0], m[1]) for m in got] == [
                (f"{i:016d}", body) for i, body in enumerate(bodies)
            ]
        finally:
            a.close()
            b.close()

    check()


@pytest.mark.slow
@pytest.mark.timeout(180)
def test_nsq_to_kinesis_end_to_end(spark, tmp_path):
    """The reference's whole job as one streaming query: messages (with a
    scripted redelivery and an oversize body) consumed from a live TCP
    fake-nsqd, deduped, packed (KPL), delivered to a spooling PutRecords
    endpoint; spool deaggregates byte-exact; consumed messages get FINed."""
    from nsq2kinesis_spark.sources.nsq import NsqDataSource

    bodies = {f"{i:016d}": f"body-{i}".encode() for i in range(20)}
    # genuinely BINARY payloads (the reference's bodies are opaque bytes,
    # proto/aggregation.proto:20): invalid UTF-8, NULs, every high bit —
    # the whole dedup/pack/spool path must round-trip them byte-exact,
    # never decode them
    bodies["9000000000000001"] = b"\x00\xff\xfe\x80binary\x00payload\x9c\xd8"
    bodies["9000000000000002"] = bytes(range(256))
    oversize_id = "9999999999999991"
    messages = list(bodies.items()) + [(oversize_id, b"z" * ((1 << 20) + 1))]
    nsqd = FakeNsqd(messages, deliver_twice={"0000000000000003", "0000000000000007"})
    nsqd.start()

    spark.dataSource.register(NsqDataSource)
    src = (
        spark.readStream.format("nsq")
        .option("topic", "events")
        .option("channel", "spark")
        .option("nsqd_tcp_address", nsqd.addr)
        .option("poll_wait_s", "0.3")
        .load()
    )
    spool = tmp_path / "spool"
    spool.mkdir()
    sink = KinesisSink(stream="test", client_factory=lambda: SpoolingKinesisClient(str(spool)))
    config = PipelineConfig(
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_processing_time="1 second"
    )
    query = build_pipeline(src, sink, config)
    # the query runs its dedup state in one partition, sized to the one
    # reader; the session keeps its own setting for batch jobs
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    try:
        deadline = time.time() + 120
        received: list[tuple[str, bytes]] = []
        while time.time() < deadline:
            received = []
            for pk, data in read_spool(str(spool)):
                if is_aggregated(data):
                    received.extend(deaggregate(data))
                else:
                    received.append((pk, data))
            if len(received) >= len(bodies) and nsqd.finished:
                break
            time.sleep(1)
        progress = query.lastProgress
    finally:
        query.stop()
        nsqd.stop()

    assert [op["numStateStoreInstances"] for op in progress["stateOperators"]] == [1]
    got_bodies = sorted(d for _, d in received)
    assert got_bodies == sorted(bodies.values())  # dedup absorbed redelivery, oversize dropped
    for pk, data in received:
        assert pk  # partition key always present
    assert nsqd.subscribed == ("events", "spark")
    # one reader holds one connection for the whole run; connections must
    # not grow with Python workers or batches
    assert nsqd.n_connections == 1
    assert set(nsqd.finished) <= set(bodies) | {oversize_id}
    assert len(nsqd.finished) >= 1  # commit() FINed consumed batches


# Run in a fresh interpreter by the test below: the JVM and its Python
# planner start before the package is importable, as when a caller builds
# its own SparkSession and only then puts the package on sys.path.
_PLAN_SOURCE_SCRIPT = """
import json, os, sys, time

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
repo_root, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo_root)  # only now is the package importable

pythonpath = os.environ.get("PYTHONPATH")
import nsq2kinesis_spark

out = {"pythonpath_unchanged": os.environ.get("PYTHONPATH") == pythonpath}

from nsq2kinesis_spark.registry import all_queries
from nsq2kinesis_spark.sources.nsq import NsqDataSource
from nsq2kinesis_spark.streaming.kinesis_sink import (
    KinesisSink, SpoolingKinesisClient, read_spool)
from nsq2kinesis_spark.streaming.kpl import deaggregate, is_aggregated
from nsq2kinesis_spark.streaming.pipeline import PipelineConfig, build_pipeline
from tests.fake_nsqd import FakeNsqd


def delivered(spool):
    got = []
    for _pk, data in read_spool(spool):
        if is_aggregated(data):
            got.extend(d for _, d in deaggregate(data))
        else:
            got.append(data)
    return sorted(got)


bodies = sorted(f"body-{i}".encode() for i in range(8))
nsqd = FakeNsqd([(f"{i:016d}", b) for i, b in enumerate(bodies)])
nsqd.start()
spool = os.path.abspath("spool")
os.mkdir(spool)
try:
    spark.dataSource.register(NsqDataSource)
    src = (spark.readStream.format("nsq")
           .options(topic="t", channel="c", nsqd_tcp_address=nsqd.addr, poll_wait_s="0.2")
           .load())
    sink = KinesisSink(stream="s", client_factory=lambda: SpoolingKinesisClient(spool))
    query = build_pipeline(src, sink, PipelineConfig(
        checkpoint_dir=os.path.abspath("ckpt"), trigger_processing_time="500 milliseconds"))
    deadline = time.time() + 90
    while (delivered(spool) != bodies and query.exception() is None
           and time.time() < deadline):
        time.sleep(0.3)
    query.stop()
    exc = query.exception()
    out["drain"] = {"delivered": [b.decode() for b in delivered(spool)],
                    "error": None if exc is None else str(exc)}
finally:
    nsqd.stop()

rows = all_queries()["q54_multimodal_decode"].builder(spark, sf_dir).collect()
out["q54"] = sorted([str(v) for v in r] for r in rows)
print(json.dumps(out))
spark.stop()
"""


@pytest.mark.slow
@pytest.mark.timeout(300)
def test_source_plans_on_a_session_started_before_the_package(tmp_path):
    """The package ships its code inside its pickles and nothing else. On a
    SparkSession whose JVM started before the package was importable, with
    nothing shipped: importing the package leaves PYTHONPATH alone; the NSQ
    source drains through ``build_pipeline`` into a ``KinesisSink`` (the
    planner, the streaming-source runner and the executor sink workers
    each unpickle engine code); and q54's mapInPandas function, which calls
    module-level helpers of ``functions/multimodal.py``, returns the rows
    its DuckDB oracle does."""
    import json
    import subprocess
    import sys

    import duckdb

    from nsq2kinesis_spark.registry import all_queries

    from .conftest import SF_SMOKE

    script = tmp_path / "plan_source.py"
    script.write_text(_PLAN_SOURCE_SCRIPT)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), repo_root, SF_SMOKE],
        cwd=tmp_path, env=env, capture_output=True, timeout=280,
    )
    assert proc.returncode == 0, proc.stderr.decode(errors="replace")[-3000:]
    out = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert out["pythonpath_unchanged"]
    assert out["drain"] == {
        "delivered": sorted(f"body-{i}" for i in range(8)), "error": None
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    oracle = con.execute(all_queries()["q54_multimodal_decode"].oracle).fetchall()
    assert out["q54"] and out["q54"] == sorted([str(v) for v in r] for r in oracle)


# --- streaming windowed agg vs batch twin -----------------------------------


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_streaming_window_agg_matches_batch_twin(spark, tmp_path):
    """Tumbling-window agg over a file stream (availableNow) equals the
    batch q61 on the same data — the watermark/window machinery works on an
    unbounded source."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "events_stream"
    ev.write.parquet(str(src_dir))

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(str(src_dir))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    got = {
        (r["w"]["start"], r["event_type"]): r["n"] for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


# --- stream-stream interval join --------------------------------------------


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (SURVEY.md §2B as-of/interval row,
    streaming form): views joined to purchases by the same user within
    [view.ts, view.ts + 1h]. Both sides watermarked so Spark can bound the
    join state; result equals the identical batch join on the same data."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "ev_join_stream"
    ev.write.parquet(str(src_dir))

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
            F.col("event_id").alias("buy_id"),
        )
        return views, buys

    cond = (
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
    )

    stream = spark.readStream.schema(ev.schema).parquet(str(src_dir))
    sv, sb = split(stream)
    joined = sv.withWatermark("v_ts", "2 hours").join(
        sb.withWatermark("b_ts", "2 hours"), cond
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    got = sorted(
        (r.view_id, r.buy_id) for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    bv, bb = split(ev)
    expected = sorted((r.view_id, r.buy_id) for r in bv.join(bb, cond).collect())
    assert got == expected and len(expected) > 0


@pytest.mark.slow
@pytest.mark.timeout(180)
def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join — the semantically hard variant: an
    unmatched left row may only be emitted (null-padded) once the
    watermark proves no matching right row can still arrive, so the
    result needs TWO micro-batch passes (matches in the first, outer
    nulls after the watermark advances past the join window). Feeding the
    files in two batches with a far-future heartbeat row in the second
    advances the watermark deterministically; the final result must equal
    the batch LEFT join minus the heartbeat."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    src_dir = tmp_path / "ev_louter_stream"
    os.makedirs(src_dir)
    ev.write.parquet(str(src_dir / "b0"))
    # heartbeat: one far-future view advancing the watermark past every
    # real event's join window
    hb_ts = ev.agg(F.max("ts")).collect()[0][0]
    spark.createDataFrame(
        [(10**9, hb_ts, 10**9, "view", 0.0, "{}")],
        ev.schema,
    ).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")
    ).write.parquet(str(src_dir / "b1"))

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
            F.col("event_id").alias("buy_id"),
        )
        return views, buys

    cond = (
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir / "b*"))
    )
    sv, sb = split(stream)
    joined = sv.withWatermark("v_ts", "1 minute").join(
        sb.withWatermark("b_ts", "1 minute"), cond, "left_outer"
    )
    name = f"sslo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(150)
    got = sorted(
        (r.view_id, r.buy_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r.view_id != 10**9  # drop the heartbeat row itself
    )
    bv, bb = split(ev)
    expected = sorted(
        (r.view_id, r.buy_id)
        for r in bv.join(bb, cond, "left_outer").collect()
    )
    assert got == expected and len(expected) > 0
    # the outer semantics actually fired: some views have no purchase
    assert any(b is None for _, b in got)


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_streaming_cdc_compaction_matches_batch(spark, tmp_path):
    """The q126 CDC compaction run INCREMENTALLY: the same max_by
    last-write-wins aggregate as a streaming query over the event files
    (complete mode) must converge to exactly the batch compaction of the
    same data — the property that lets a deployment keep the compacted
    state continuously current instead of re-running the batch job.
    (At scale the memory-sink complete mode becomes a keyed state store
    with update mode; the aggregate itself — map-side-combinable max_by
    — is unchanged.)"""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.operators.relational import CDC_DELETE_BELOW, cents
    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "cdc_stream"
    ev.write.parquet(str(src_dir))
    # plant one tombstone WINNER (latest row for its key, value < $1) so
    # the delete arm is exercised deterministically — the shipped sf0.001
    # slice happens to have no key whose last write is a tombstone
    hb_ts = ev.agg(F.max("ts")).collect()[0][0]
    tomb = spark.createDataFrame(
        [(999111, hb_ts, 1, "purchase", 0.25, "{}")], ev.schema
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    tomb.write.mode("append").parquet(str(src_dir))
    ev = spark.read.parquet(str(src_dir))

    def compact(df):
        last = F.max_by(
            F.struct(
                cents(F.col("value")).alias("cents"),
                F.coalesce(
                    F.col("value") < F.lit(CDC_DELETE_BELOW), F.lit(False)
                ).alias("is_delete"),
            ),
            F.struct(F.col("ts"), F.col("event_id")),
        )
        return (
            df.groupBy("user_id", "event_type")
            .agg(last.alias("last"), F.count("*").cast("long").alias("n"))
            .select(
                "user_id",
                "event_type",
                F.col("last.cents").alias("cents"),
                F.col("last.is_delete").alias("is_delete"),
                "n",
            )
        )

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src_dir))
    name = f"cdc_{uuid.uuid4().hex[:8]}"
    q = (
        compact(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
    expected = sorted(map(tuple, compact(ev).collect()))
    assert got == expected and len(expected) > 0
    # tombstones exist in the data, so the delete arm is exercised
    assert any(r[3] for r in expected)


def _stages_run(spark, fn) -> int:
    """Call ``fn`` inside a fresh job group; the number of Spark stages its
    jobs ran tasks in."""
    sc = spark.sparkContext
    group = f"stages-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    # a stage listed by a later job whose shuffle output already exists is
    # skipped: it runs no task
    return sum(1 for s in stages if tracker.getStageInfo(s).numCompletedTasks)


def test_sink_stats_are_summed_on_the_driver(spark, tmp_path, monkeypatch):
    """KinesisSink's SinkMetrics match counts taken from the input and the
    spool, over partitions that are empty, hold an oversize body or
    deliver. The batch is collected in one single-stage job and packed on
    the driver, so the PutRecords call count follows the batch's entries,
    not its partitions, and the batch_delivered event carries the
    driver's pack and put times."""
    from nsq2kinesis_spark import observability
    from nsq2kinesis_spark.streaming.kinesis_sink import SinkMetrics

    events = []
    monkeypatch.setattr(
        observability, "log_event", lambda _c, event, **fields: events.append((event, fields))
    )

    max_bytes = 64
    rows = [(f"body-{i}".encode(), "k") for i in range(10)] + [(b"x" * max_bytes, "k")]
    # 11 rows over 16 slices: 5 partitions are empty
    df = spark.sparkContext.parallelize(rows, 16).toDF("body binary, partition_key string")
    kept = [b for b, k in rows if len(b) + len(k.encode()) <= max_bytes]
    partitions = df.rdd.glom().collect()
    assert sum(1 for p in partitions if not p) == 5
    spool = tmp_path / "spool"
    spool.mkdir()
    sink = KinesisSink(
        stream="t",
        client_factory=lambda: SpoolingKinesisClient(str(spool)),
        max_record_bytes=max_bytes,
    )
    assert _stages_run(spark, lambda: sink(df, 0)) == 1

    spooled = read_spool(str(spool))
    delivered = []
    for _pk, data in spooled:
        if is_aggregated(data):
            delivered.extend(d for _, d in deaggregate(data))
        else:
            delivered.append(data)
    assert sorted(delivered) == sorted(kept)
    assert list(sink.metrics) == [
        SinkMetrics(
            n_input=len(rows),
            n_oversize_dropped=len(rows) - len(kept),
            n_entries=len(spooled),
            # ten small bodies make one entry, sent in one call
            n_calls=1,
            n_retried=0,
        )
    ]
    [(event, fields)] = events
    assert event == "batch_delivered"
    assert fields["pack_ms"] >= 0 and fields["put_ms"] >= 0

    sink(spark.createDataFrame([], "body binary, partition_key string"), 1)
    assert sink.metrics[-1] == SinkMetrics()


def test_sink_packs_in_the_driver_process(spark):
    """The sink packs and sends in the driver's own process: a client the
    factory closes over receives every body of a multi-partition batch.
    Packing in Python workers would deliver to unpickled copies instead."""
    fake = FakeKinesisClient()
    bodies = [f"body-{i}".encode() for i in range(12)]
    df = spark.sparkContext.parallelize([(b,) for b in bodies], 4).toDF("body binary")
    KinesisSink(stream="t", client_factory=lambda: fake)(df, 0)
    delivered = []
    for rec in fake.received:
        data = bytes(rec["Data"])
        if is_aggregated(data):
            delivered.extend(d for _, d in deaggregate(data))
        else:
            delivered.append(data)
    assert sorted(delivered) == sorted(bodies)


def test_sink_metrics_keep_the_newest_epochs(spark, monkeypatch):
    """KinesisSink.metrics is bounded: past METRICS_KEPT epochs the oldest
    entries go and the newest epoch's entry is last."""
    from nsq2kinesis_spark.streaming import kinesis_sink

    monkeypatch.setattr(kinesis_sink, "METRICS_KEPT", 3)
    sink = KinesisSink(stream="t", client_factory=FakeKinesisClient)
    for epoch in range(5):
        # epoch i forwards i + 1 bodies, so n_input names the epoch
        bodies = [(f"e{epoch}-{i}".encode(),) for i in range(epoch + 1)]
        sink(spark.createDataFrame(bodies, "body binary"), epoch)
    assert len(sink.metrics) == 3
    assert [m.n_input for m in sink.metrics] == [3, 4, 5]


# --- forward-path observe metrics (reference running counters) --------------


def test_forward_metrics_observation(spark):
    """with_forward_metrics exposes the reference's Size()/Count() counters
    (aggregator.go:183-205) via df.observe — batch form read through a
    pyspark Observation."""
    from pyspark.sql import Observation

    from nsq2kinesis_spark.streaming.pipeline import with_forward_metrics

    rows = [("m1", b"aaaa", "2024-01-01 00:00:00", 1, None),
            ("m2", b"bb", "2024-01-01 00:00:01", 1, None)]
    df = spark.createDataFrame(
        rows, "message_id string, body binary, ts string, attempts int, key string"
    ).selectExpr("message_id", "body", "CAST(ts AS TIMESTAMP) ts", "attempts", "key")
    obs = Observation("forward_metrics")
    out = with_forward_metrics(forwarding_transform(df, streaming=False), obs)
    out.collect()
    assert obs.get == {"n_records": 2, "n_body_bytes": 6}


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_streaming_session_window_matches_batch_twin(spark, tmp_path):
    """session_window on an unbounded source (availableNow) equals the
    batch q63 formulation on the same data — gap-based sessionization works
    under the streaming state machinery, not just as a batch expression."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "events_sess_stream"
    ev.write.parquet(str(src_dir))

    def sessionize(df):
        return df.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(F.count("*").alias("n_events"))

    stream = sessionize(
        spark.readStream.schema(ev.schema).parquet(str(src_dir)).withWatermark("ts", "1 hour")
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    got = {
        (r["w"]["start"], r["w"]["end"], r["user_id"]): r["n_events"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["w"]["start"], r["w"]["end"], r["user_id"]): r["n_events"]
        for r in sessionize(ev).collect()
    }
    assert got == expected and len(expected) > 0


# --- checkpoint restart: at-least-once recovery ------------------------------


@pytest.mark.slow
@pytest.mark.timeout(240)
def test_pipeline_restart_recovers_unacked_messages(spark, tmp_path):
    """Kill the streaming query mid-flight, restart it on the same
    checkpoint: messages never FINed redeliver on the new connection
    (fake nsqd implements real NSQ reconnect semantics) and every body
    eventually reaches the sink — the §2A-14 at-least-once contract
    across a process restart, not just within one run."""
    from nsq2kinesis_spark.sources.nsq import NsqDataSource

    bodies = {f"{i:016d}": f"r-{i}".encode() for i in range(30)}
    nsqd = FakeNsqd(list(bodies.items()))
    nsqd.start()
    spark.dataSource.register(NsqDataSource)
    spool = tmp_path / "rspool"
    spool.mkdir()
    ckpt = tmp_path / "rckpt"

    def start_query():
        src = (
            spark.readStream.format("nsq")
            .option("topic", "t")
            .option("channel", "c")
            .option("nsqd_tcp_address", nsqd.addr)
            .option("poll_wait_s", "0.3")
            .load()
        )
        sink = KinesisSink(
            stream="test", client_factory=lambda: SpoolingKinesisClient(str(spool))
        )
        config = PipelineConfig(
            checkpoint_dir=str(ckpt), trigger_processing_time="500 milliseconds"
        )
        return build_pipeline(src, sink, config)

    def spool_bodies() -> set[bytes]:
        got: set[bytes] = set()
        for pk, data in read_spool(str(spool)):
            if is_aggregated(data):
                got.update(d for _, d in deaggregate(data))
            else:
                got.add(data)
        return got

    q1 = start_query()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not spool_bodies():
            time.sleep(0.5)
    finally:
        q1.stop()  # abrupt stop: some messages consumed, possibly unacked

    q2 = start_query()
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spool_bodies() != set(bodies.values()):
            time.sleep(1)
    finally:
        q2.stop()
        nsqd.stop()

    assert spool_bodies() == set(bodies.values())  # complete after restart
    assert set(nsqd.finished) <= set(bodies)


def test_poll_mid_frame_timeout_resyncs():
    """A poll timeout firing mid-frame (size prefix read, payload pending)
    must not desynchronize the stream: the partial bytes stay buffered and
    the frame completes on the next poll (nsq.py frame buffering)."""
    import socket as _socket

    from nsq2kinesis_spark.sources.nsq import NsqConnection

    from .fake_nsqd import _message_frame

    a, b = _socket.socketpair()
    try:
        conn = NsqConnection.__new__(NsqConnection)
        conn.sock = a
        conn._buf = bytearray()
        conn._rdy = 10
        conn._last_frame = time.monotonic()
        frame = _message_frame("0000000000000001", b"hello")
        b.sendall(frame[:7])  # 4-byte size + 3 bytes of payload, then stall
        assert conn.poll(10, 0.3) == []  # times out mid-frame, no garbage
        b.sendall(frame[7:] + _message_frame("0000000000000002", b"world"))
        msgs = conn.poll(10, 0.5)
        assert [(m[0], m[1]) for m in msgs] == [
            ("0000000000000001", b"hello"),
            ("0000000000000002", b"world"),
        ]
    finally:
        a.close()
        b.close()


@pytest.mark.slow
@pytest.mark.timeout(240)
def test_restart_with_uncommitted_batch_recovers(spark, tmp_path):
    """Crash-shaped restart: the offset WAL is one batch ahead of the
    commit log (simulated by deleting the newest commits/ entry), so the
    engine replays the uncommitted batch through readBetweenOffsets.
    Before the fix this raised PySparkNotImplementedError on every restart,
    permanently poisoning the checkpoint; now the replayed batch is empty
    (un-FINned messages redeliver via NSQ semantics) and the pipeline
    drains to completion."""
    import os

    from nsq2kinesis_spark.sources.nsq import NsqDataSource

    bodies = {f"{i:016d}": f"u-{i}".encode() for i in range(30)}
    nsqd = FakeNsqd(list(bodies.items()))
    nsqd.start()
    spark.dataSource.register(NsqDataSource)
    spool = tmp_path / "uspool"
    spool.mkdir()
    ckpt = tmp_path / "uckpt"

    def start_query():
        src = (
            spark.readStream.format("nsq")
            .option("topic", "t")
            .option("channel", "c")
            .option("nsqd_tcp_address", nsqd.addr)
            .option("poll_wait_s", "0.3")
            .load()
        )
        sink = KinesisSink(
            stream="test", client_factory=lambda: SpoolingKinesisClient(str(spool))
        )
        config = PipelineConfig(
            checkpoint_dir=str(ckpt), trigger_processing_time="500 milliseconds"
        )
        return build_pipeline(src, sink, config)

    def spool_bodies() -> set[bytes]:
        got: set[bytes] = set()
        for _pk, data in read_spool(str(spool)):
            if is_aggregated(data):
                got.update(d for _, d in deaggregate(data))
            else:
                got.add(data)
        return got

    def commit_files() -> list[str]:
        if not (ckpt / "commits").exists():
            return []
        return sorted(
            f for f in os.listdir(ckpt / "commits") if not f.startswith(".")
        )

    q1 = start_query()
    try:
        # Wait for a COMMITTED batch with data: the spool is written inside
        # foreachBatch, before the commit-log entry — stopping on spool
        # alone can interrupt the microbatch pre-commit.
        deadline = time.time() + 60
        while time.time() < deadline and not (commit_files() and spool_bodies()):
            time.sleep(0.5)
    finally:
        q1.stop()

    # Forge the crash window: WAL has the batch's offsets, commit log doesn't.
    commits = commit_files()
    assert commits, "first run must have committed at least one batch"
    os.remove(ckpt / "commits" / commits[-1])

    q2 = start_query()
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spool_bodies() != set(bodies.values()):
            time.sleep(1)
        assert q2.exception() is None, q2.exception()
    finally:
        q2.stop()
        nsqd.stop()

    assert spool_bodies() == set(bodies.values())
    assert set(nsqd.finished) <= set(bodies)


def test_failed_batch_requeues_immediately_not_after_timeout():
    """Replaying an uncommitted batch seq REQs the failed attempt's
    messages for redelivery; without REQ they'd only come back after the
    server msg-timeout (set to 60 s here, far beyond the test's own
    runtime, so a pass proves REQ — not timeout — recovered them).
    ``requeue_base_ms=0`` pins the backoff to zero so redelivery is
    immediate; the default backoff policy has its own test below
    (reference kinesis_writer.go:114-126). Batches still awaiting commit
    are TOUCHed on the next read."""
    from nsq2kinesis_spark.sources.nsq import NsqStreamReader

    bodies = {f"{i:016d}": f"q-{i}".encode() for i in range(6)}
    nsqd = FakeNsqd(list(bodies.items()), msg_timeout_s=60.0)
    nsqd.start()
    try:
        reader = NsqStreamReader(
            {"topic": "t", "channel": "c", "nsqd_tcp_address": nsqd.addr,
             "poll_wait_s": "0.5", "requeue_base_ms": "0"}
        )
        first = list(NsqStreamReader.read(reader, {"seq": 0})[0])
        assert len(first) == len(bodies)
        t0 = time.time()
        # the batch "failed" downstream: same seq read again
        replay_iter, _ = NsqStreamReader.read(reader, {"seq": 0})
        redelivered = {r[1] for r in replay_iter}
        assert redelivered == set(bodies.values())  # back via REQ
        assert time.time() - t0 < 30, "recovered only via msg-timeout"
        assert set(nsqd.requeued) == set(bodies)
        # the replayed batch is uncommitted: the next read TOUCHes it
        list(NsqStreamReader.read(reader, {"seq": 1})[0])
        assert set(nsqd.touched) == set(bodies)
    finally:
        nsqd.stop()


def test_requeue_delay_backoff_shape():
    """delay ∈ [exp/2, exp) with exp = min(base·2^(attempts−1), cap);
    deterministic per (msg_id, attempts); capped; never negative."""
    from nsq2kinesis_spark.sources.nsq import requeue_delay_ms

    for attempts, exp in [(1, 1000), (2, 2000), (3, 4000), (6, 32000)]:
        d = requeue_delay_ms("m" * 16, attempts, base_ms=1000, max_ms=60_000)
        assert exp // 2 <= d < exp, (attempts, d)
    # cap: huge attempts values (uint16 range) must not overflow or exceed max
    d = requeue_delay_ms("m" * 16, 60_000, base_ms=1000, max_ms=60_000)
    assert 30_000 <= d < 60_000
    # deterministic
    assert requeue_delay_ms("a", 3) == requeue_delay_ms("a", 3)
    # zero base → zero delay (the "immediate" config used by the test above)
    assert requeue_delay_ms("a", 5, base_ms=0) == 0


@pytest.mark.slow
def test_poison_message_backs_off_and_dead_letters():
    """A batch that keeps failing REQs its messages with growing delay and,
    at the attempts cap, dead-letters them (FIN + structured log) instead
    of hot-looping (reference main.go:66-67 DefaultRequeueDelay + go-nsq
    MaxAttempts semantics)."""
    from nsq2kinesis_spark.sources.nsq import NsqStreamReader, requeue_delay_ms

    nsqd = FakeNsqd([("poison-msg-00001", b"bad")], msg_timeout_s=60.0)
    nsqd.start()
    try:
        reader = NsqStreamReader(
            {"topic": "t", "channel": "c", "nsqd_tcp_address": nsqd.addr,
             "poll_wait_s": "0.2", "requeue_base_ms": "600",
             "requeue_max_ms": "5000", "max_attempts": "3"}
        )
        # attempt 1 delivered
        rows, _ = NsqStreamReader.read(reader, {"seq": 0})
        first = list(rows)
        assert len(first) == 1 and first[0][3] == 1  # attempts == 1
        # batch "fails" → replay REQs with backoff(attempts=1) ∈ [300, 600) ms
        t_req = time.time()
        rows, _ = NsqStreamReader.read(reader, {"seq": 0})
        assert list(rows) == []  # deferred: not redelivered within 0.2 s poll
        # wait out the deferral; attempt 2 arrives
        redelivered = []
        deadline = time.time() + 5
        seq = 1
        while not redelivered and time.time() < deadline:
            rows, _ = NsqStreamReader.read(reader, {"seq": seq})
            redelivered = list(rows)
            seq += 1
        assert redelivered and redelivered[0][3] == 2
        delay1 = requeue_delay_ms("poison-msg-00001", 1, 600, 5000)
        assert time.time() - t_req >= delay1 / 1000.0
        # fail again → backoff(2); wait for attempt 3
        failed_seq = seq - 1
        rows, _ = NsqStreamReader.read(reader, {"seq": failed_seq})
        assert list(rows) == []
        redelivered = []
        deadline = time.time() + 5
        while not redelivered and time.time() < deadline:
            rows, _ = NsqStreamReader.read(reader, {"seq": seq})
            redelivered = list(rows)
            seq += 1
        assert redelivered and redelivered[0][3] == 3
        # attempts == max_attempts: the next failure dead-letters (FIN, no REQ)
        failed_seq = seq - 1
        rows, _ = NsqStreamReader.read(reader, {"seq": failed_seq})
        assert list(rows) == []
        assert reader.dead_lettered == 1
        assert nsqd.requeued == ["poison-msg-00001", "poison-msg-00001"]
        assert nsqd.finished == ["poison-msg-00001"]
        # the queue is genuinely drained — nothing redelivers afterwards
        time.sleep(0.5)
        rows, _ = NsqStreamReader.read(reader, {"seq": seq})
        assert list(rows) == []
    finally:
        nsqd.stop()


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_metrics_listener_exports_progress(spark, tmp_path):
    """MetricsQueryListener turns every StreamingQueryProgress into one
    structured event carrying the forward-path observe counters — the
    engine's zerolog-equivalent operational surface (reference
    main.go:46-52)."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.observability import attach_metrics_listener
    from nsq2kinesis_spark.streaming.pipeline import (
        dedup_transform,
        with_forward_metrics,
    )

    src_dir = tmp_path / "msgs"
    rows = [(f"m{i}", f"payload-{i}".encode(), f"2024-01-01 00:00:{i:02d}") for i in range(10)]
    spark.createDataFrame(rows, "message_id string, body binary, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(str(src_dir))

    listener = attach_metrics_listener(spark)
    try:
        schema = "message_id string, body binary, ts timestamp"
        stream = with_forward_metrics(
            dedup_transform(
                spark.readStream.schema(schema).parquet(str(src_dir)), streaming=True
            )
        )
        name = f"obs_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qid = str(q.id)
        q.awaitTermination(60)
        # listener callbacks are async, and a watermarked availableNow run
        # emits a trailing zero-row batch whose per-batch snapshot can
        # overwrite the interesting one — so assert on the listener's
        # CUMULATIVE per-query totals, waiting until all rows are counted
        deadline = time.time() + 20
        while (
            listener.totals_by_query.get(qid, {}).get("forward_records", 0) < 10
            and time.time() < deadline
        ):
            time.sleep(0.2)
        totals = listener.totals_by_query.get(qid)
        assert totals is not None
        assert totals["forward_records"] == 10
        assert totals["forward_body_bytes"] == sum(len(b) for _, b, _ in rows)
        assert "state_rows" in totals  # dedup state surfaced
        assert qid in listener.progress_by_query  # per-batch snapshots too
    finally:
        spark.streams.removeListener(listener)


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data drop (§2B watermark row): batch 1 advances the watermark
    past T; batch 2 delivers an event older than watermark − delay, which
    must be excluded from the windowed aggregate (the reference's
    generational cache similarly refuses anything older than two
    rotations, deduper.go:42-47 — generalized to event time)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    schema = "event_id long, ts timestamp, user_id long"
    src = tmp_path / "late_src"
    src.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    on_time = [(i, datetime(2024, 1, 1, 10, 0, i), 1) for i in range(5)]
    late = [(99, t0, 1)]  # 10 h older than the watermark after batch 1
    flush = [(100, datetime(2024, 1, 2, 0, 0, 0), 1)]  # closes the 10:00 window

    stream = (
        spark.readStream.schema(schema)
        .parquet(str(src / "*"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        # batch order made explicit: each file lands while the query runs,
        # with a full drain between — watermark advances batch by batch
        for i, rows_ in enumerate((on_time, late, flush)):
            spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(
                str(src / f"f{i}")
            )
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT w.start AS s, n FROM {name}").collect()
    got = {(r.s, r.n) for r in rows}
    # the on-time window closes (flush batch advanced the watermark past it)
    # and emits all 5 rows; the late event was dropped, so its 00:00 window
    # never materializes; the flush row's own window is still open.
    assert got == {(datetime(2024, 1, 1, 10, 0, 0), 5)}, got


@pytest.mark.slow
@pytest.mark.timeout(180)
def test_nsq_source_rate_limiting(spark, tmp_path):
    """max_records_per_trigger bounds every micro-batch — the reference's
    MaxInFlight=1000 backpressure knob (main.go:62) as a source option.
    20 messages at a 5-record cap must arrive over ≥4 micro-batches, each
    with ≤5 input rows."""
    from nsq2kinesis_spark.sources.nsq import NsqDataSource

    bodies = {f"{i:016d}": f"rl-{i}".encode() for i in range(20)}
    # long msg-timeout: this test feeds the RAW source into a memory sink
    # (no dedup stage), and rate-limited consumption keeps messages
    # in-flight across several triggers — a short timeout would redeliver
    # them as duplicate rows, which is redelivery's test, not this one's
    nsqd = FakeNsqd(list(bodies.items()), msg_timeout_s=60.0)
    nsqd.start()
    spark.dataSource.register(NsqDataSource)
    src = (
        spark.readStream.format("nsq")
        .option("topic", "t")
        .option("channel", "c")
        .option("nsqd_tcp_address", nsqd.addr)
        .option("max_records_per_trigger", "5")
        .option("poll_wait_s", "0.3")
        .load()
    )
    name = f"rl_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql(f"SELECT COUNT(*) n FROM {name}").collect()[0].n >= len(bodies):
                break
            time.sleep(0.5)
        rows = spark.sql(f"SELECT body FROM {name}").collect()
        batch_sizes = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
        nsqd.stop()

    assert sorted(bytes(r.body) for r in rows) == sorted(bodies.values())
    assert batch_sizes and max(batch_sizes) <= 5, batch_sizes
    assert len(batch_sizes) >= 4, batch_sizes


@pytest.mark.slow
def test_epoch_guard_makes_replay_idempotent(spark, tmp_path):
    """foreachBatch replays the last epoch after restart; with
    epoch_guard_dir set, a replayed (same epoch_id) delivery is a no-op —
    effectively-once into a non-transactional sink. A NEW epoch still
    delivers, and the guard keeps one marker per query, not per epoch."""
    df = spark.createDataFrame(
        [(f"m{i}", f"b-{i}".encode()) for i in range(10)],
        "message_id string, body binary",
    )
    spool = tmp_path / "espool"
    spool.mkdir()
    sink = KinesisSink(
        stream="t",
        client_factory=lambda: SpoolingKinesisClient(str(spool)),
        epoch_guard_dir=str(tmp_path / "eguard"),
    )

    def spool_count():
        n = 0
        for _pk, data in read_spool(str(spool)):
            n += len(deaggregate(data)) if is_aggregated(data) else 1
        return n

    sink(df, 7)
    assert spool_count() == 10
    sink(df, 7)  # replay of the same epoch → skipped
    assert spool_count() == 10
    sink(df, 8)  # genuinely new epoch → delivered
    assert spool_count() == 20
    for epoch in (9, 10, 11):
        sink(df, epoch)
    assert spool_count() == 50
    # bounded: one marker for the query however many epochs delivered
    assert len(os.listdir(tmp_path / "eguard")) == 1
    sink(df, 11)  # replay of the last epoch → still skipped
    assert spool_count() == 50


@pytest.mark.slow
def test_epoch_guard_namespaced_by_query_id(spark, tmp_path):
    """A recreated checkpoint restarts epoch ids at 0; with the marker dir
    reused, an un-namespaced guard would silently drop the new query's
    epoch 0. Markers are namespaced by the query id in the checkpoint's
    metadata file, so the new incarnation delivers while a same-query
    replay still skips."""
    import json

    df = spark.createDataFrame(
        [(f"m{i}", f"b-{i}".encode()) for i in range(10)],
        "message_id string, body binary",
    )
    spool = tmp_path / "nspool"
    spool.mkdir()
    guard = tmp_path / "nguard"

    def make_sink(query_id: str) -> KinesisSink:
        ckpt = tmp_path / f"ckpt_{query_id}"
        ckpt.mkdir()
        (ckpt / "metadata").write_text(json.dumps({"id": query_id}))
        return KinesisSink(
            stream="t",
            client_factory=lambda: SpoolingKinesisClient(str(spool)),
            epoch_guard_dir=str(guard),
            checkpoint_dir=str(ckpt),
        )

    def spool_count():
        n = 0
        for _pk, data in read_spool(str(spool)):
            n += len(deaggregate(data)) if is_aggregated(data) else 1
        return n

    first = make_sink("run-1")
    first(df, 0)
    assert spool_count() == 10
    first(df, 0)  # same query, same epoch → replay skipped
    assert spool_count() == 10

    rerun = make_sink("run-2")  # recreated checkpoint: epochs restart at 0
    rerun(df, 0)
    assert spool_count() == 20, "new query incarnation must not be skipped"
    assert len(os.listdir(guard)) == 2  # one marker per query id


# --- stream-static enrichment join -------------------------------------------


@pytest.mark.slow
@pytest.mark.timeout(120)
def test_stream_static_enrichment_join_matches_batch(spark, tmp_path):
    """Stream-static join (the 100 TB enrichment pattern): an unbounded
    stream joined against a static dimension. The static side needs no
    watermark and no state — Spark re-plans it per micro-batch, and a
    dimension-sized side broadcasts into every batch exactly like the
    batch join. Result must equal the identical batch enrichment."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src_dir = tmp_path / "ev_enrich_stream"
    ev.write.parquet(str(src_dir))
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 3.0), ("purchase", 10.0), ("signup", 5.0),
         ("error", 0.0)],
        "event_type string, weight double",
    )

    def enrich(df):
        return (
            df.join(F.broadcast(dim), "event_type")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                # exact integer cents so stream/batch sum orders can't drift
                F.sum(
                    (F.round(F.col("value") * 100, 0) * F.col("weight")).cast("long")
                ).alias("weighted_cents"),
            )
        )

    stream = enrich(spark.readStream.schema(ev.schema).parquet(str(src_dir)))
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    got = {
        (r["event_type"]): (r["n"], r["weighted_cents"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["event_type"]): (r["n"], r["weighted_cents"])
        for r in enrich(ev).collect()
    }
    assert got == expected and len(got) == 5


# --- nsqd restart / reconnect -------------------------------------------------


@pytest.mark.slow
@pytest.mark.timeout(180)
def test_simple_reader_survives_nsqd_restart(spark, tmp_path):
    """nsqd dying mid-stream must NOT fail the query: the simple reader
    drops the dead connection, emits empty batches while the broker is
    down, and re-subscribes when it returns (go-nsq auto-reconnect
    semantics, reference main.go:61-68). Messages published after the
    restart flow through the same uninterrupted query."""
    from nsq2kinesis_spark.sources.nsq import NsqDataSource

    first = {f"{i:016d}": f"pre-{i}".encode() for i in range(5)}
    second = {f"{i:016d}": f"post-{i}".encode() for i in range(10, 15)}
    nsqd1 = FakeNsqd(list(first.items()))
    nsqd1.start()
    port = int(nsqd1.addr.rsplit(":", 1)[1])

    spark.dataSource.register(NsqDataSource)
    src = (
        spark.readStream.format("nsq")
        .option("topic", "events")
        .option("channel", "spark")
        .option("nsqd_tcp_address", nsqd1.addr)
        .option("poll_wait_s", "0.3")
        .load()
    )
    name = f"reconnect_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    nsqd2 = None
    try:
        def seen() -> set[str]:
            return {
                r["message_id"]
                for r in spark.sql(f"SELECT message_id FROM {name}").collect()
            }

        deadline = time.time() + 60
        while time.time() < deadline and not (set(first) <= seen()):
            time.sleep(0.5)
        assert set(first) <= seen(), "pre-restart messages never arrived"

        nsqd1.stop()  # connection dies mid-stream
        time.sleep(3)  # a few triggers fire against the dead broker
        assert q.isActive and q.exception() is None, q.exception()

        nsqd2 = FakeNsqd(list(second.items()), port=port)  # same address
        nsqd2.start()
        deadline = time.time() + 90
        while time.time() < deadline and not (set(second) <= seen()):
            time.sleep(0.5)
        assert set(second) <= seen(), (
            f"post-restart messages never arrived: {sorted(seen())}"
        )
        assert q.isActive and q.exception() is None, q.exception()
        assert nsqd2.subscribed == ("events", "spark")  # fresh SUB handshake
    finally:
        q.stop()
        nsqd1.stop()
        if nsqd2 is not None:
            nsqd2.stop()


def test_half_open_connection_hits_heartbeat_deadline():
    """A silently-partitioned connection (no RST — recv just never returns
    data) must be declared dead once no frame, not even a heartbeat,
    arrives within STALE_AFTER_S, instead of polling a dead socket until
    the kernel's ~15-minute retransmission timeout. Any frame refreshes
    the deadline."""
    import socket as _socket

    from nsq2kinesis_spark.sources.nsq import NsqConnection

    from .fake_nsqd import _frame

    a, b = _socket.socketpair()
    try:
        conn = NsqConnection.__new__(NsqConnection)
        conn.sock = a
        conn._buf = bytearray()
        conn._rdy = 10
        conn._last_frame = time.monotonic()

        # a heartbeat frame keeps the connection alive
        b.sendall(_frame(0, b"_heartbeat_"))
        assert conn.poll(10, 0.2) == []  # heartbeat consumed, NOP replied
        assert time.monotonic() - conn._last_frame < 1

        # silence past the deadline → declared dead on the next poll
        conn._last_frame = time.monotonic() - NsqConnection.STALE_AFTER_S - 1
        with pytest.raises(ConnectionError, match="half-open"):
            conn.poll(10, 0.2)
    finally:
        a.close()
        b.close()


# --- ingest-time sketch maintenance (round-8 stretch) ------------------------


def test_sketch_maintenance_rollup_equals_rebuild_after_n_batches(spark, tmp_path):
    """The streaming half of q142: after N micro-batches each appending its
    own hourly HLL cells, the ISO-week rollup from the maintained table
    EQUALS a rebuild over all rows — exactly, not approximately (cells only
    partition rows; HLL union is register-max, insertion-order-independent).
    Also proves at-least-once safety: re-applying a whole epoch's data is
    idempotent for the estimates."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.streaming.sketch_maintenance import (
        SketchMaintenance,
        read_sketch_table,
        week_rollup,
    )
    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "src"
    ev.repartition(6).write.parquet(str(src))  # 6 files → ≥6 micro-batches

    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .writeStream.foreachBatch(maint)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert maint.epochs_applied >= 6, "maintenance must run once per micro-batch"

    def rollup_map(df):
        return {r.week_start: r.approx_distinct for r in df.collect()}

    maintained = rollup_map(week_rollup(read_sketch_table(spark, table_path)))
    rebuild_cells = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"), F.hour("ts").alias("hour"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    assert maintained == rollup_map(week_rollup(rebuild_cells))

    # at-least-once replay: re-apply the ENTIRE corpus as one duplicate
    # epoch — every appended register is a duplicate, the rollup must not move
    maint(ev, epoch_id=999)
    assert rollup_map(week_rollup(read_sketch_table(spark, table_path))) == maintained


def test_pipeline_sketch_maintenance_composes_with_sink(spark, tmp_path):
    """build_pipeline(sketch_table=...) wraps the delivery sink: messages
    still reach it (wrapped, called first), AND the sketch table fills with
    hourly distinct-body_hash cells as the stream runs."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.streaming.pipeline import MESSAGE_SCHEMA
    from nsq2kinesis_spark.streaming.sketch_maintenance import read_sketch_table

    src = tmp_path / "msgs"
    # duplicate pairs ADJACENT in event time (id//2 → ids 2k and 2k+1 share a
    # body, 1 min apart, inside the 4-min watermark) so the delivered==150
    # assertion holds however the file source batches the two files — a
    # 150-min-apart duplicate layout would silently depend on both files
    # landing in micro-batch 0 before first-batch state eviction
    spark.range(300).select(
        F.col("id").cast("string").alias("message_id"),
        F.encode(
            F.concat(F.lit("m-"), (F.col("id") / 2).cast("long").cast("string")),
            "UTF-8",
        ).alias("body"),
        (F.timestamp_millis(F.col("id") * 60_000)).alias("ts"),
        F.lit(1).alias("attempts"),
        F.lit(None).cast("string").alias("key"),
    ).coalesce(2).write.parquet(str(src))

    delivered: list[int] = []

    def sink(df, epoch_id):
        delivered.append(df.count())

    table_path = str(tmp_path / "sketches")
    config = PipelineConfig(
        checkpoint_dir=str(tmp_path / "ckpt"), sketch_table=table_path
    )
    q = build_pipeline(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(str(src)), sink, config
    )
    def cells_ready() -> bool:
        # a bare isdir() check races the in-flight first append (dir exists
        # while only _temporary is inside) — require a committed, readable table
        try:
            return read_sketch_table(spark, table_path).count() > 0
        except Exception:
            return False

    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if sum(delivered) >= 150 and cells_ready():
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert sum(delivered) == 150, "dedup → sink delivery must precede maintenance"
    cells = read_sketch_table(spark, table_path)
    assert {c for c in cells.columns} == {"day", "hour", "sk"}
    # 300 ids at 1/min with 50% duplication → 150 distinct hashes over 5 hours
    from pyspark.sql import functions as F2

    est = (
        cells.agg(
            F2.hll_sketch_estimate(F2.hll_union_agg("sk")).cast("long").alias("n")
        ).first().n
    )
    assert abs(est - 150) <= 15  # HLL error envelope, generous


def test_sketch_maintenance_survives_checkpoint_restart(spark, tmp_path):
    """The at-least-once claim proven end-to-end: kill the maintaining
    query mid-stream, restart from the same checkpoint (the epoch in
    flight at the kill may REPLAY through foreachBatch and append
    duplicate cells), and the week rollup from the maintained table must
    still equal a rebuild exactly — duplicate-register union is
    idempotent, so replays can grow the table but never move the
    estimates."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.streaming.sketch_maintenance import (
        SketchMaintenance,
        read_sketch_table,
        week_rollup,
    )
    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "src"
    ev.repartition(6).write.parquet(str(src))
    table_path = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt")

    def start(maint):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .writeStream.foreachBatch(maint)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    first = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    q = start(first)
    deadline = time.time() + 60
    while first.epochs_applied < 2 and q.isActive and time.time() < deadline:
        time.sleep(0.05)
    q.stop()  # mid-stream kill; the in-flight epoch may replay on restart
    q.awaitTermination(30)
    assert first.epochs_applied >= 1, "kill must land after some progress"

    second = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    q2 = start(second)
    assert q2.awaitTermination(120)
    # The kill races the availableNow drain: on a slow/loaded box the first
    # run may finish all 6 epochs before the poll loop sees 2, leaving the
    # restart a legitimately empty stream. Only demand restart progress
    # when the kill actually landed mid-stream.
    if first.epochs_applied < 6:
        assert second.epochs_applied >= 1, "restart must process the remainder"

    def rollup_map(df):
        return {r.week_start: r.approx_distinct for r in df.collect()}

    maintained = rollup_map(week_rollup(read_sketch_table(spark, table_path)))
    rebuild = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"), F.hour("ts").alias("hour"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    assert maintained == rollup_map(week_rollup(rebuild))


def test_watermark_dedup_state_bounded_by_window_not_feed(spark, tmp_path):
    """The reference-inherited bounded-state claim (two-generation map,
    deduper.go:17-47 analog) as a deterministic CI invariant, distilled
    from the round-9 streaming ladder (tools/streaming_ladder.py): at
    CONSTANT micro-batch size, doubling the feed must NOT grow peak
    dedup state — state is bounded by the 4-minute event-time watermark
    window (+ one batch of inserts), never by history. Deterministic:
    fixed file split, maxFilesPerTrigger=1, watermark advancement is a
    pure function of the previous batch's max ts."""
    import os as _os

    from pyspark.sql import functions as F

    from nsq2kinesis_spark.streaming.pipeline import dedup_transform

    BATCH_ROWS = 12_500  # 37.5 s of event time per batch at 3 ms/row

    def peak_state(n: int) -> int:
        src = str(tmp_path / f"feed{n}")
        files = n // BATCH_ROWS
        spark.range(n).select(
            F.col("id").cast("string").alias("message_id"),
            F.encode(
                F.concat(F.lit("b-"), F.floor(F.col("id") / 2).cast("string")),
                "UTF-8",
            ).alias("body"),
            F.timestamp_millis(F.col("id") * 3).alias("ts"),
        ).repartitionByRange(files, "id").write.parquet(src)
        stream = (
            spark.readStream.schema("message_id string, body binary, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            dedup_transform(stream, streaming=True)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / f"ckpt{n}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return max(
            op["numRowsTotal"]
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )

    small = peak_state(200_000)  # 600 s span ≫ the 240 s window
    large = peak_state(400_000)  # 2x history, same batch size
    # window bound ≈ 240 s / 3 ms = 80k ids = 40k keys, + one batch's
    # inserts + eviction granularity; the INVARIANT is flatness
    assert small > 0
    assert large <= small * 1.25, (
        f"peak state grew with history ({small} -> {large}): "
        "watermark eviction is not bounding the state"
    )


def test_sketch_table_compaction_bounds_files_and_preserves_rollups(
    spark, tmp_path
):
    """The maintenance pass that closes the streaming table's artifact
    story: after many per-epoch appends PLUS a full replay (duplicate
    cells for every (day, hour)), compact_sketch_table must (a) cut the
    file count to the target, (b) collapse cells to exactly one per
    (day, hour) — replay duplicates absorbed, (c) leave every rollup
    EXACTLY unchanged (HLL union associativity/idempotence), and (d)
    keep per-file (day, hour) ranges disjoint for footer pruning."""
    from pyspark.sql import functions as F

    from nsq2kinesis_spark.streaming.sketch_maintenance import (
        SketchMaintenance,
        compact_sketch_table,
        read_sketch_table,
        week_rollup,
    )
    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "src"
    ev.repartition(6).write.parquet(str(src))
    table_path = str(tmp_path / "sketches")
    maint = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .writeStream.foreachBatch(maint)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # at-least-once replay: every cell appended again, all duplicates
    maint(ev, epoch_id=999)

    def rollup_map(df):
        return {r.week_start: r.approx_distinct for r in df.collect()}

    frag = read_sketch_table(spark, table_path)
    frag_files = len(frag.inputFiles())
    before = rollup_map(week_rollup(frag))
    distinct_cells = frag.select("day", "hour").distinct().count()
    assert frag.count() > distinct_cells, "replay must have left duplicate cells"

    stats = compact_sketch_table(spark, table_path, target_files=2)
    assert stats["files_before"] == frag_files
    assert stats["files_after"] <= 2 < frag_files
    assert stats["cells_after"] == distinct_cells  # duplicates absorbed

    compacted = read_sketch_table(spark, table_path)
    assert compacted.count() == distinct_cells
    assert rollup_map(week_rollup(compacted)) == before  # exact, not approx
    # hourly point rollups survive too — the finest question the table answers
    hourly = {
        (r.day, r.hour): r.n
        for r in compacted.select(
            "day",
            "hour",
            F.hll_sketch_estimate("sk").cast("long").alias("n"),
        ).collect()
    }
    rebuilt_hourly = {
        (r.day, r.hour): r.n
        for r in ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"), F.hour("ts").alias("hour"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("n")
        )
        .collect()
    }
    assert hourly == rebuilt_hourly
    # disjoint per-file (day, hour) ranges → footer pruning stays effective
    bounds = []
    for f in sorted(compacted.inputFiles()):
        rows = spark.read.parquet(f).select("day", "hour").collect()
        keys = sorted((r.day, r.hour) for r in rows)
        bounds.append((keys[0], keys[-1]))
    bounds.sort()
    for (_, prev_hi), (next_lo, _) in zip(bounds, bounds[1:]):
        assert prev_hi < next_lo, bounds


def test_sketch_maintenance_restart_after_mid_compaction_crash(spark, tmp_path):
    """A compactor dying MID-COMPACTION leaves exactly one durable state —
    a written-but-unswapped version dir (the manifest rename is atomic:
    it either happened or it did not). Construct that state beside a
    killed stream, restart the stream on the same checkpoint, and after
    it drains run the one-shot compaction pass: the table serves the
    exact rollup throughout and the pass collects the debris."""
    import os as _os

    from pyspark.sql import functions as F

    from nsq2kinesis_spark import versioned_table as vt
    from nsq2kinesis_spark.streaming.sketch_maintenance import (
        SketchMaintenance,
        compact_sketch_table,
        read_sketch_table,
        week_rollup,
    )
    from nsq2kinesis_spark.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "src"
    ev.repartition(6).write.parquet(str(src))
    table_path = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt")

    def start(maint):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .writeStream.foreachBatch(maint)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    first = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    q = start(first)
    deadline = time.time() + 90
    while first.epochs_applied < 3 and q.isActive and time.time() < deadline:
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(30)
    assert first.epochs_applied >= 1

    # the mid-compaction crash state: a compactor died AFTER writing its
    # merged output but BEFORE the manifest swap — nothing points to the
    # dir, so readers are unaffected and the next compaction GCs it
    prev = vt.current_version(table_path)
    orphan = _os.path.join(table_path, vt._next_version_name(prev))
    read_sketch_table(spark, table_path).limit(1).write.parquet(orphan)
    # back-date the debris past GC's write-activity grace: a FRESH
    # non-kept dir is deliberately spared (it could be a live concurrent
    # compactor's in-flight output)
    _old = time.time() - 2 * vt.GC_GRACE_SEC
    for _root, _dirs, _files in _os.walk(orphan):
        for _name in _dirs + _files:
            _os.utime(_os.path.join(_root, _name), (_old, _old))
    _os.utime(orphan, (_old, _old))
    before_restart = {
        r.week_start: r.approx_distinct
        for r in week_rollup(read_sketch_table(spark, table_path)).collect()
    }

    second = SketchMaintenance(table_path, key_col="user_id", ts_col="ts")
    q2 = start(second)
    assert q2.awaitTermination(180)
    if first.epochs_applied < 6:
        assert second.epochs_applied >= 1, "restart must process the remainder"
    compact_sketch_table(spark, table_path)
    assert not _os.path.exists(orphan)  # crash debris collected

    def rollup_map(df):
        return {r.week_start: r.approx_distinct for r in df.collect()}

    rebuild = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"), F.hour("ts").alias("hour"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    tbl = read_sketch_table(spark, table_path)
    assert rollup_map(week_rollup(tbl)) == rollup_map(week_rollup(rebuild))
    assert tbl.count() == tbl.select("day", "hour").distinct().count()
    assert before_restart  # the mid-crash table answered queries too


def test_sustained_partial_failure_soak(spark, tmp_path):
    """Round-13 soak (r12 verdict task #6): the reference's throttling
    backoff was an open TODO (reference TODO.md:7,
    kinesis_writer.go:101-104); this sink claims its per-slot selective
    retry + two-regime backoff absorbs SUSTAINED throttling. Measured,
    not claimed: a capacity-model fake shard (ThrottlingSpoolingClient)
    rejects ~40% of every first PutRecords attempt for 20 consecutive
    batches. Assertions:

    * delivery completes for every batch with NO batch replay (no
      RuntimeError surfaced; every epoch's entries fully spooled);
    * byte-exact, loss-free delivery (deaggregated spool == the 12,000
      unique bodies) — and duplicate-free here, since only failed slots
      resend;
    * retry amplification stays at the throttle floor: failed-slot
      fraction in [0.30, 0.50] per the soak design, total slot-sends
      < 1.6x entries;
    * no backlog accumulation: per-batch PutRecords call count is
      CONSTANT across the soak (deterministic sink metric — the r13
      ADVICE replaced the original 3x-median wall-clock assertion,
      which a single GC/scheduler stall on a loaded host could flake)."""
    from nsq2kinesis_spark.streaming.kinesis_sink import ThrottlingSpoolingClient

    spool = tmp_path / "soak_spool"
    spool.mkdir()
    sink = KinesisSink(
        stream="soak",
        client_factory=lambda: ThrottlingSpoolingClient(str(spool), capacity=90),
    )
    n_batches, n_bodies, body_len = 20, 600, 5000
    expect: set[bytes] = set()
    for epoch in range(n_batches):
        rows = []
        for i in range(n_bodies):
            b = f"soak-{epoch:03d}-{i:04d}-".encode().ljust(body_len, b"x")
            rows.append((b,))
            expect.add(b)
        df = spark.createDataFrame(rows, "body binary").repartition(1)
        sink(df, epoch)

    got: set[bytes] = set()
    for _pk, data in read_spool(str(spool)):
        if is_aggregated(data):
            got.update(d for _, d in deaggregate(data))
        else:
            got.add(data)
    assert got == expect

    total_entries = sum(m.n_entries for m in sink.metrics)
    total_retried = sum(m.n_retried for m in sink.metrics)
    frac = total_retried / total_entries
    amp = (total_entries + total_retried) / total_entries
    assert all(m.n_retried > 0 for m in sink.metrics), "throttle never bit"
    assert 0.30 <= frac <= 0.50, frac
    assert amp < 1.6, amp
    # Steady state, measured deterministically: identical batches against
    # a capacity-model shard take an identical number of PutRecords calls
    # — any backlog or retry-storm growth would inflate later batches'
    # call counts.
    calls = [m.n_calls for m in sink.metrics]
    assert len(set(calls)) == 1, calls
    print(
        f"soak: {n_batches} batches x {n_bodies} bodies, failed-slot "
        f"frac={frac:.2f}, amplification={amp:.2f}, calls/batch={calls[0]}"
    )
