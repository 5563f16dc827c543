"""Kinesis-shaped batch sink for Structured Streaming ``foreachBatch``.

Re-expresses the reference's KinesisBatchWriter semantics (reference
kinesis_writer.go:52-130) on Spark's execution model:

- per-micro-batch, rows are packed executor-side (mapInPandas — Arrow
  batches, no driver collect) with the KPL aggregator (streaming/kpl.py);
- entries ship in PutRecords calls of ≤500 records and ≤4.9 MB
  (kinesis_writer.go:55-57 limits);
- per-record failures retry selectively with capped backoff — only failed
  entries resend (kinesis_writer.go:114-126's slot map); whole-call errors
  raise, letting Spark's checkpoint replay the batch (at-least-once, the
  reference's own contract, §2A op14);
- oversize bodies (> max_record_bytes, default 1 MiB) are dropped and
  counted (kinesis_writer.go:167-170).

The Kinesis client is injected (``client_factory``) so tests run against an
in-memory fake; production wires boto3 or the stdlib SigV4 HTTP client
(kinesis_http.py) — both exercised live in tests/test_kinesis_http.py.
At 100 TB scale each executor task packs and sends its own partition
concurrently; no state or data flows through the driver beyond metrics.
"""

from __future__ import annotations

import time
from collections import deque
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from .kpl import KplAggregator, PackedEntry, effective_partition_key

MAX_RECORDS_PER_CALL = 500
MAX_BYTES_PER_CALL = 4_900_000
DEFAULT_MAX_RECORD_BYTES = 1 << 20
# SinkMetrics kept per sink, newest last: a forwarder runs for days at one
# epoch per trigger, so older epochs are dropped (the benchmark's runs stay
# far below this)
METRICS_KEPT = 1024


@dataclass
class SinkMetrics:
    n_input: int = 0
    n_oversize_dropped: int = 0
    n_entries: int = 0
    n_calls: int = 0
    n_retried: int = 0


@dataclass
class FakeKinesisClient:
    """In-memory PutRecords endpoint with injectable per-record failures.

    ``fail_plan`` maps call ordinal → set of entry indices to fail on that
    call (mirrors the reference's failure-injection tests, SURVEY.md §5).
    """

    fail_plan: dict[int, set[int]] = field(default_factory=dict)
    calls: list[list[dict[str, Any]]] = field(default_factory=list)
    received: list[dict[str, Any]] = field(default_factory=list)

    def put_records(self, StreamName: str, Records: list[dict[str, Any]]) -> dict[str, Any]:
        call_no = len(self.calls)
        self.calls.append(Records)
        failed = self.fail_plan.get(call_no, set())
        results = []
        n_failed = 0
        for i, rec in enumerate(Records):
            if i in failed:
                n_failed += 1
                results.append(
                    {"ErrorCode": "ProvisionedThroughputExceededException", "ErrorMessage": "x"}
                )
            else:
                self.received.append(rec)
                results.append({"SequenceNumber": str(len(self.received)), "ShardId": "shard-0"})
        return {"FailedRecordCount": n_failed, "Records": results}


@dataclass
class SpoolingKinesisClient:
    """Fake PutRecords endpoint that spools received records to a directory
    (one file per record: 8-hex seq + key length prefix + key + data).
    Picklable and executor-safe in local mode — tests deaggregate the spool
    to assert byte-exact delivery through the full Spark path."""

    spool_dir: str

    def put_records(self, StreamName: str, Records: list[dict[str, Any]]) -> dict[str, Any]:
        import os
        import uuid

        results = []
        for rec in Records:
            name = f"{uuid.uuid4().hex}.rec"
            key = rec["PartitionKey"].encode("utf-8")
            with open(os.path.join(self.spool_dir, name), "wb") as f:
                f.write(len(key).to_bytes(2, "big") + key + bytes(rec["Data"]))
            results.append({"SequenceNumber": name, "ShardId": "shard-0"})
        return {"FailedRecordCount": 0, "Records": results}


@dataclass
class ThrottlingSpoolingClient(SpoolingKinesisClient):
    """SpoolingKinesisClient under SUSTAINED shard pressure: EVERY
    put_records call accepts at most ``capacity`` records (spooled) and
    fails the tail with ProvisionedThroughputExceededException — the
    capacity model of real Kinesis shard throttling, where a retry of
    the failed slots fits under the freed capacity. Drives the
    partial-failure soak: the reference's backoff was an open TODO
    (reference TODO.md:7, kinesis_writer.go:101-104); this engine's
    per-slot selective retry + two-regime backoff claims to absorb
    sustained 30-50% per-call throttling without batch replays, and the
    soak measures it (tests/test_streaming.py)."""

    capacity: int = MAX_RECORDS_PER_CALL

    def put_records(self, StreamName: str, Records: list[dict[str, Any]]) -> dict[str, Any]:
        ok = super().put_records(StreamName, Records[: self.capacity])
        results = list(ok["Records"])
        n_failed = max(0, len(Records) - self.capacity)
        results.extend(
            {
                "ErrorCode": "ProvisionedThroughputExceededException",
                "ErrorMessage": "sustained shard pressure",
            }
            for _ in range(n_failed)
        )
        return {"FailedRecordCount": n_failed, "Records": results}


def read_spool(spool_dir: str) -> list[tuple[str, bytes]]:
    """Decode a SpoolingKinesisClient directory → (partition_key, data)."""
    import os

    out = []
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name), "rb") as f:
            raw = f.read()
        klen = int.from_bytes(raw[:2], "big")
        out.append((raw[2 : 2 + klen].decode("utf-8"), raw[2 + klen :]))
    return out


def _chunk_entries(entries: list[PackedEntry]) -> Iterator[list[PackedEntry]]:
    """≤500 records / ≤4.9 MB per PutRecords call (Kinesis API limits)."""
    chunk: list[PackedEntry] = []
    size = 0
    for e in entries:
        # the API limit counts the UTF-8 partition-key BYTES, not its chars
        esize = len(e.data) + len(e.partition_key.encode("utf-8"))
        if chunk and (len(chunk) >= MAX_RECORDS_PER_CALL or size + esize > MAX_BYTES_PER_CALL):
            yield chunk
            chunk, size = [], 0
        chunk.append(e)
        size += esize
    if chunk:
        yield chunk


def send_entries(
    client: Any,
    stream: str,
    entries: list[PackedEntry],
    max_retries: int = 3,
    backoff_s: float = 0.05,
    whole_call_backoff_s: float = 0.5,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[int, int]:
    """PutRecords with selective per-record retry; returns (n_calls,
    n_retried). Raises RuntimeError when records still fail after retries —
    Spark then replays the micro-batch (at-least-once).

    Two backoff regimes: partial failures (a few throttled slots) use the
    short per-slot backoff; a WHOLE call failing means the shard/stream is
    throttled, so hammering it with the short backoff just burns the retry
    budget — the whole-call regime waits longer per attempt (the policy
    the reference left as a TODO, kinesis_writer.go:101-104)."""
    n_calls = 0
    n_retried = 0
    for chunk in _chunk_entries(entries):
        pending = chunk
        for attempt in range(max_retries + 1):
            resp = client.put_records(
                StreamName=stream,
                Records=[
                    {"Data": e.data, "PartitionKey": e.partition_key} for e in pending
                ],
            )
            n_calls += 1
            if not resp.get("FailedRecordCount"):
                break
            whole_call_failed = resp["FailedRecordCount"] >= len(pending)
            # selective retry: only the failed slots resend (reference
            # kinesis_writer.go:114-126 requeues per failed slot)
            pending = [
                e
                for e, r in zip(pending, resp["Records"], strict=True)
                if "ErrorCode" in r
            ]
            n_retried += len(pending)
            if attempt == max_retries:
                raise RuntimeError(
                    f"{len(pending)} records still failing after {max_retries} retries"
                )
            base = whole_call_backoff_s if whole_call_failed else backoff_s
            sleep(base * (2**attempt))
    return n_calls, n_retried


@dataclass
class KinesisSink:
    """``foreachBatch`` callable: pack rows → chunked PutRecords.

    Expects a batch DataFrame with columns ``body: binary`` and optionally
    ``partition_key: string`` (fallback hashing applied by the packer).
    """

    stream: str
    client_factory: Callable[[], Any]
    target_size: int = 25_000
    max_record_bytes: int = DEFAULT_MAX_RECORD_BYTES
    partitioned: bool = False
    max_retries: int = 3
    epoch_guard_dir: str | None = None
    checkpoint_dir: str | None = None
    metrics: deque[SinkMetrics] = field(
        default_factory=lambda: deque(maxlen=METRICS_KEPT), init=False
    )
    _epoch_ns: str | None = field(default=None, init=False, repr=False)

    def _epoch_namespace(self) -> str:
        """Namespace epoch markers by the streaming query id from the
        checkpoint's metadata file. Epoch ids restart at 0 for a fresh
        checkpoint, so an un-namespaced marker dir reused across query
        incarnations silently drops real epochs; the query id is stable
        across restarts of the SAME checkpoint (replay dedup still works)
        but new for a recreated one (no false skip)."""
        if self._epoch_ns is None:
            ns = "default"
            if self.checkpoint_dir is not None:
                import json
                import os

                try:
                    with open(os.path.join(self.checkpoint_dir, "metadata")) as fh:
                        ns = json.load(fh)["id"]
                except (OSError, KeyError, ValueError):
                    pass
            self._epoch_ns = ns
        return self._epoch_ns

    def _epoch_marker(self) -> str | None:
        """The query's one marker file, holding the last delivered epoch
        id. foreachBatch epoch ids only grow within a query and only the
        last uncommitted epoch can replay, so one marker per query id,
        replaced after each delivery, guards every replay in bounded
        space."""
        if self.epoch_guard_dir is None:
            return None
        import os

        os.makedirs(self.epoch_guard_dir, exist_ok=True)
        return os.path.join(
            self.epoch_guard_dir, f"epoch-{self._epoch_namespace()}.last"
        )

    def __call__(self, batch_df, epoch_id: int) -> None:
        import pandas as pd

        # Epoch guard (optional): foreachBatch replays the last uncommitted
        # epoch after a failure/restart — Spark's contract is at-least-once
        # per epoch with a STABLE epoch_id. Recording the last delivered
        # epoch id turns the replay into a no-op: effectively-once into a
        # non-transactional sink (the standard idempotent-foreachBatch
        # pattern; the reference instead relied on downstream dedup alone).
        marker = self._epoch_marker()
        if marker is not None:
            try:
                with open(marker) as fh:
                    last_delivered = int(fh.read())
            except FileNotFoundError:
                last_delivered = -1  # nothing delivered yet
            if epoch_id <= last_delivered:
                return

        stream = self.stream
        target = self.target_size
        max_bytes = self.max_record_bytes
        partitioned = self.partitioned
        max_retries = self.max_retries
        factory = self.client_factory

        cols = batch_df.columns
        has_key = "partition_key" in cols
        selected = batch_df.select("body", "partition_key") if has_key else batch_df.select("body")

        def pack_and_send(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            client = factory()
            agg = KplAggregator(target_size=target)
            n_input = 0
            n_dropped = 0
            buffered: dict[str, KplAggregator] = {}
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    body = bytes(row.body)
                    key = getattr(row, "partition_key", None)
                    n_input += 1
                    # partition keys are capped at 255 chars = at most
                    # 1020 UTF-8 bytes, so bodies comfortably under the
                    # limit skip deriving the key (the keyless fallback is
                    # a pure-Python FNV over the whole body — running it
                    # per record just for this check would double the hot
                    # path's hashing cost)
                    if len(body) + 1020 <= max_bytes:
                        pk_bytes = 0
                    else:
                        pk_bytes = len(
                            effective_partition_key(body, key).encode("utf-8")
                        )
                    if len(body) + pk_bytes > max_bytes:
                        # Kinesis's 1 MiB per-record limit counts data PLUS
                        # the UTF-8 partition key; a body within max_bytes
                        # but over it with the key would be a poison record
                        # — PutRecords rejects it, the batch fails, and
                        # Spark replays the same batch forever. Drop and
                        # count instead (the reference checked body only,
                        # kinesis_writer.go:167-170 — this closes that gap).
                        n_dropped += 1
                        continue
                    if partitioned:
                        # PartitionedAggregator (reference partitioned.go stub,
                        # implemented here): one packer per partition key
                        pk = effective_partition_key(body, key)
                        buffered.setdefault(pk, KplAggregator(target_size=target)).put(body, key)
                    else:
                        agg.put(body, key)
            entries = []
            if partitioned:
                for sub in buffered.values():
                    entries.extend(sub.drain())
            else:
                entries = agg.drain()
            n_calls, n_retried = send_entries(client, stream, entries, max_retries=max_retries)
            yield pd.DataFrame(
                {
                    "n_input": [n_input],
                    "n_oversize_dropped": [n_dropped],
                    "n_entries": [len(entries)],
                    "n_calls": [n_calls],
                    "n_retried": [n_retried],
                }
            )

        # one stats row per task, summed here rather than by a shuffle
        # stage; no rows (no tasks) leaves every count at 0
        per_task = selected.mapInPandas(
            pack_and_send,
            "n_input long, n_oversize_dropped long, n_entries long, n_calls long, n_retried long",
        ).collect()
        batch_metrics = SinkMetrics(*(sum(col) for col in zip(*per_task, strict=True)))
        self.metrics.append(batch_metrics)
        # structured per-batch delivery event (reference kinesis_writer.go:
        # 98-112 logs sends/drops/retries the same way)
        from ..observability import log_event

        log_event(
            "kinesis_sink",
            "batch_delivered",
            stream=self.stream,
            epoch_id=epoch_id,
            n_input=batch_metrics.n_input,
            n_oversize_dropped=batch_metrics.n_oversize_dropped,
            n_entries=batch_metrics.n_entries,
            n_calls=batch_metrics.n_calls,
            n_retried=batch_metrics.n_retried,
        )
        if marker is not None:
            # written only after every chunk delivered — a crash before this
            # point replays the epoch (at-least-once), after it skips
            # cleanly; os.replace keeps a crash mid-write from leaving a
            # torn marker
            import os

            tmp = f"{marker}.tmp"
            with open(tmp, "w") as fh:
                fh.write(str(epoch_id))
            os.replace(tmp, marker)
