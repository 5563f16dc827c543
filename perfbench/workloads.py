"""Seeded inputs of the forwarding workloads.

A body is ``b"PB" + seq (u64 BE) + due offset in ns (u64 BE) + filler``:
the sequence number names the unique body and the due offset is the time,
from the start of its phase, at which the generator is scheduled to
publish it. Both come from the schedule, so the same seed yields the same
bytes on every run. A duplicate publish repeats an earlier body byte for
byte, the way NSQ redelivery noise does.
"""

from __future__ import annotations

import math
import random
import struct
from dataclasses import dataclass

BODY_TAG = b"PB"
HEADER = struct.Struct(">QQ")
HEADER_LEN = len(BODY_TAG) + HEADER.size
MAX_BODY_BYTES = 1 << 20  # the output checker fails any body above this
DUP_FRACTION = 0.2
DUP_WINDOW = 64  # a duplicate repeats one of the last this-many unique bodies

# Reader settings: the CLI's --partitioned scale path with its defaults.
READER = {"partitioned": "true", "num_partitions": "4"}
TRIGGER = "1 second"

# Fixed offered rate (msg/s), set once on the seed commit on a 4-core host
# (see README.md for the measurement).
RATES = {"forward_small": 25.0}
# Backlog size drained after the fixed-rate phase, per second of the run.
BACKLOG_PER_SECOND = {"forward_small": 40}

PHASE_SHARE = 0.4  # share of --seconds spent in the fixed-rate phase

FORWARD_WORKLOADS = tuple(RATES)


@dataclass
class Publish:
    seq: int  # unique-body number; a duplicate carries its original's seq
    due_ns: int  # offset from the start of its phase
    body: bytes
    duplicate: bool


def _size(rng: random.Random) -> int:
    # log-uniform 64 B .. 1 KiB: geometric mean 256 B
    return int(math.exp(rng.uniform(math.log(64), math.log(1024))))


def body_for(seq: int, due_ns: int, size: int, rng: random.Random) -> bytes:
    head = BODY_TAG + HEADER.pack(seq, due_ns)
    return head + rng.randbytes(max(size - len(head), 0))


def parse_body(body: bytes) -> tuple[int, int] | None:
    """(seq, due offset ns) of a generated body, or None if it is not one."""
    if len(body) < HEADER_LEN or body[:2] != BODY_TAG:
        return None
    return HEADER.unpack_from(body, 2)


def schedule(workload: str, seed: int, seconds: float) -> tuple[list[Publish], list[Publish]]:
    """(fixed-rate phase, backlog) publishes for one run.

    The fixed-rate phase lasts ``PHASE_SHARE`` of ``seconds``; its due
    offsets follow the workload's rate. Backlog publishes all carry due
    offset 0: they are published at once."""
    if workload not in RATES:
        raise ValueError(f"unknown forwarding workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    rate = RATES[workload]
    phase_ns = int(seconds * PHASE_SHARE * 1e9)
    seq = 0
    recent: list[Publish] = []

    def draw(due_ns: int) -> Publish:
        nonlocal seq
        if recent and rng.random() < DUP_FRACTION:
            orig = recent[rng.randrange(len(recent))]
            return Publish(orig.seq, due_ns, orig.body, True)
        pub = Publish(seq, due_ns, body_for(seq, due_ns, _size(rng), rng), False)
        seq += 1
        recent.append(pub)
        del recent[:-DUP_WINDOW]
        return pub

    phase: list[Publish] = []
    due = 0.0
    while due < phase_ns:
        pub = draw(int(due))
        phase.append(pub)
        due += 1e9 / rate
    n_backlog = int(BACKLOG_PER_SECOND[workload] * seconds * (1 - PHASE_SHARE))
    backlog = [draw(0) for _ in range(n_backlog)]
    return phase, backlog
