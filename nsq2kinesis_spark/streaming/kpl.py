"""KPL (Kinesis Producer Library) record aggregation — pure Python, no
external deps (protobuf wire format is hand-encoded).

Re-implements the packing semantics of the reference aggregator
(reference pkg/aggregator/aggregator.go:33-230) from its observable
contract, on the public KPL aggregated-record format
(https://github.com/awslabs/amazon-kinesis-producer/blob/master/aggregation-format.md):

    frame   = magic 0xF3 0x89 0x9A 0xC2 || protobuf(AggregatedRecord) || MD5(protobuf)
    AggregatedRecord: repeated string partition_key_table = 1;
                      repeated string explicit_hash_key_table = 2;
                      repeated Record records = 3;
    Record:           uint64 partition_key_index = 1;
                      uint64 explicit_hash_key_index = 2;
                      bytes  data = 3;

Packing contract (mirrors reference aggregator.go:119-181):
- records whose body exceeds ``target_size`` (default 25 000 B) pass through
  as standalone entries;
- otherwise records pack greedily into one aggregate until adding the next
  record would exceed ``target_size``, where aggregate size counts data
  bytes plus each partition key's length on first occurrence (dictionary-
  encoded keys);
- partition key: caller-supplied if non-empty and ≤255 chars, else the
  FNV-64a hex digest of the body (reference aggregator.go:23-31, 124-130);
- the packed entry's partition key is the first key in its table;
- invariant (reference aggregator_test.go:218-244): 1000 × 1 KB bodies with
  key "a" → exactly 42 entries; 100 → exactly 5.

This module is the sink-side encoder used inside ``foreachBatch``
(streaming/kinesis_sink.py) — it never appears in a Spark plan.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

KPL_MAGIC = b"\xf3\x89\x9a\xc2"
DEFAULT_TARGET_SIZE = 25_000
MAX_PARTITION_KEY_LEN = 255

# --- FNV-64a (public-domain algorithm; reference uses Go's hash/fnv) --------

_FNV64_OFFSET = 0xCBF29CE484222325
_FNV64_PRIME = 0x100000001B3


def fnv64a(data: bytes) -> int:
    h = _FNV64_OFFSET
    for b in data:
        h = ((h ^ b) * _FNV64_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


def default_partition_key(data: bytes) -> str:
    """Hex FNV-64a of the body — the reference's default partitioner."""
    return f"{fnv64a(data):x}"


def effective_partition_key(data: bytes, key: str | None) -> str:
    """Caller key if valid (non-empty, ≤255 chars), else body hash."""
    if key and len(key) <= MAX_PARTITION_KEY_LEN:
        return key
    return default_partition_key(data)


# --- minimal protobuf wire encoding -----------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _len_delim(field_no: int, payload: bytes) -> bytes:
    return _varint((field_no << 3) | 2) + _varint(len(payload)) + payload


def _uint(field_no: int, value: int) -> bytes:
    return _varint(field_no << 3) + _varint(value)


def _encode_record(pk_index: int, data: bytes) -> bytes:
    return _uint(1, pk_index) + _len_delim(3, data)


def encode_aggregated(keys: list[str], records: list[tuple[int, bytes]]) -> bytes:
    """Wire frame for one AggregatedRecord: magic + protobuf + md5 trailer."""
    body = bytearray()
    for k in keys:
        body += _len_delim(1, k.encode("utf-8"))
    for pk_index, data in records:
        body += _len_delim(3, _encode_record(pk_index, data))
    pb = bytes(body)
    return KPL_MAGIC + pb + hashlib.md5(pb).digest()


def deaggregate(frame: bytes) -> list[tuple[str, bytes]]:
    """Independent decoder for round-trip tests: returns (partition_key,
    data) pairs. Raises ValueError on bad magic/checksum. Non-aggregated
    entries are returned as a single pair with key=None sentinel upstream —
    callers check ``is_aggregated`` first."""
    if frame[:4] != KPL_MAGIC:
        raise ValueError("missing KPL magic prefix")
    pb, digest = frame[4:-16], frame[-16:]
    if hashlib.md5(pb).digest() != digest:
        raise ValueError("md5 checksum mismatch")
    keys: list[str] = []
    records: list[tuple[int, bytes]] = []
    pos = 0
    while pos < len(pb):
        tag, pos = _read_varint(pb, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(pb, pos)
            payload = pb[pos : pos + ln]
            pos += ln
            if field_no == 1:
                keys.append(payload.decode("utf-8"))
            elif field_no == 3:
                records.append(_decode_record(payload))
        else:
            _, pos = _read_varint(pb, pos)
    return [(keys[idx], data) for idx, data in records]


def _decode_record(payload: bytes) -> tuple[int, bytes]:
    pos = 0
    pk_index = 0
    data = b""
    while pos < len(payload):
        tag, pos = _read_varint(payload, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 0:
            val, pos = _read_varint(payload, pos)
            if field_no == 1:
                pk_index = val
        elif wire == 2:
            ln, pos = _read_varint(payload, pos)
            if field_no == 3:
                data = payload[pos : pos + ln]
            pos += ln
    return pk_index, data


def is_aggregated(data: bytes) -> bool:
    return data[:4] == KPL_MAGIC


# --- greedy packer ----------------------------------------------------------


@dataclass
class PackedEntry:
    """One Kinesis PutRecords entry: wire data + its partition key + the
    input slots (ordinal of put() calls) it contains, for selective retry
    (reference kinesis_writer.go:66-75 slot→message map)."""

    data: bytes
    partition_key: str
    slots: list[int]


@dataclass
class KplAggregator:
    """Greedy KPL packer (reference aggregator.go Put/Drain contract).

    ``put`` buffers; ``drain`` finalizes everything and resets. Oversize
    bodies (> target_size) become standalone pass-through entries.
    """

    target_size: int = DEFAULT_TARGET_SIZE
    _keys: list[str] = field(default_factory=list)
    _key_index: dict[str, int] = field(default_factory=dict)
    _records: list[tuple[int, bytes]] = field(default_factory=list)
    _slots: list[int] = field(default_factory=list)
    _size: int = 0
    _next_slot: int = 0
    _done: list[PackedEntry] = field(default_factory=list)

    def _incoming_size(self, data: bytes, key: str) -> int:
        # key size in UTF-8 BYTES: Go's len(string) is bytes, so the
        # reference's accounting (aggregator.go:140) is byte-based, and
        # the sink's PutRecords chunker counts the same way — counting
        # chars here under-sized frames with non-ASCII keys
        return len(data) + (0 if key in self._key_index else len(key.encode("utf-8")))

    def _flush_current(self) -> None:
        if not self._records:
            return
        self._done.append(
            PackedEntry(
                data=encode_aggregated(self._keys, self._records),
                partition_key=self._keys[0],
                slots=list(self._slots),
            )
        )
        self._keys, self._key_index = [], {}
        self._records, self._slots = [], []
        self._size = 0

    def put(self, data: bytes, key: str | None = None) -> int:
        """Buffer one record; returns its slot ordinal (for ack mapping)."""
        slot = self._next_slot
        self._next_slot += 1
        pk = effective_partition_key(data, key)
        if len(data) > self.target_size:
            # oversize pass-through, unpacked (reference aggregator.go:133-143)
            self._done.append(PackedEntry(data=data, partition_key=pk, slots=[slot]))
            return slot
        if self._size + self._incoming_size(data, pk) > self.target_size:
            self._flush_current()
        if pk not in self._key_index:
            self._key_index[pk] = len(self._keys)
            self._keys.append(pk)
            self._size += len(pk.encode("utf-8"))
        self._records.append((self._key_index[pk], data))
        self._slots.append(slot)
        self._size += len(data)
        return slot

    @property
    def count(self) -> int:
        """User records buffered or packed since last drain."""
        return self._next_slot

    @property
    def size(self) -> int:
        """Bytes (data + first-occurrence keys) in the in-flight aggregate."""
        return self._size

    def drain(self) -> list[PackedEntry]:
        """Finalize any partial aggregate, return all entries, reset."""
        self._flush_current()
        out = self._done
        self._done = []
        self._next_slot = 0
        return out
