"""Load harness for the forwarding workloads, run as its own process.

One process holds three parts, on four threads in all:

- ``Nsqd``: an nsqd speaking the public TCP protocol subset the engine's
  source uses (V2 magic, SUB/RDY/FIN/REQ/TOUCH/NOP/CLS, heartbeats). One
  selector loop serves every connection; in-flight expiry runs off a
  deadline heap and each connection's outgoing frames go out in one send.
  As in nsqd, a connection is sent messages while its in-flight count is
  below its RDY count.
- ``Endpoint``: a Kinesis PutRecords endpoint (JSON 1.1 over HTTP/1.1)
  that verifies every SigV4 signature and time-stamps each request when
  its response has been written, i.e. when its records are accepted.
- ``Decoder``: decodes accepted entries with the benchmark's own KPL
  decoder and checks every user record against what was published.

The main thread is the open-loop generator. It reads one JSON command per
line on stdin and answers with one JSON line on stdout:

    {"cmd": "go"}    run the fixed-rate phase, publish the backlog at once
                     and wait for delivery (see ``go``); answers with the
                     measurements
    {"cmd": "load", "n": N, "size": B}
                     queue N bodies of B bytes (capacity self-check)
    {"cmd": "stats"} user records decoded so far (capacity self-check)
    {"cmd": "exit"}  stop and exit

Usage: python3 harness.py --workload NAME --seed N --seconds S [--fault F]
"""

from __future__ import annotations

import argparse
import heapq
import json
import queue
import selectors
import socket
import struct
import sys
import threading
import time
from collections import deque

import kplcheck
import workloads

SECRET_KEY = "perfbench-secret"
ACCESS_KEY = "perfbench"
MSG_TIMEOUT_S = 60.0  # nsqd's default --msg-timeout
HEARTBEAT_S = 30.0  # nsqd's default heartbeat interval

_OK = struct.pack(">ii", 6, 0) + b"OK"
_CLOSE_WAIT = struct.pack(">ii", 14, 0) + b"CLOSE_WAIT"
_HEARTBEAT = struct.pack(">ii", 15, 0) + b"_heartbeat_"
_MSG_HEAD = struct.Struct(">iiqH")


def now_ns() -> int:
    return time.monotonic_ns()


class _Conn:
    __slots__ = ("sock", "cid", "rbuf", "wbuf", "woff", "rdy", "in_flight", "subscribed",
                 "closing", "last_heartbeat", "magic")

    def __init__(self, sock: socket.socket, cid: int) -> None:
        self.sock = sock
        self.cid = cid
        self.rbuf = bytearray()
        self.wbuf = bytearray()
        self.woff = 0  # bytes of wbuf already sent
        self.rdy = 0
        self.in_flight = 0
        self.subscribed = False
        self.closing = False
        self.last_heartbeat = time.monotonic()
        self.magic = False


class Nsqd:
    """One topic, one channel; see the module docstring."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.pending: deque[int] = deque()  # message numbers awaiting delivery
        self.bodies: list[bytes] = []  # message number -> body
        self.pub_ns: list[int] = []  # message number -> publish time
        self.attempts: list[int] = []
        self.first_delivery_ns: list[int] = []  # 0 = never delivered
        self.in_flight: dict[int, tuple[_Conn, int, int]] = {}  # n -> (conn, deadline, delivered)
        self.deadlines: list[tuple[int, int]] = []  # heap of (deadline, n)
        self.deferred: list[tuple[int, int]] = []  # heap of (ready, n) after REQ
        self.conns: dict[int, _Conn] = {}
        self.finished: set[int] = set()  # message numbers FINished
        self._rr = 0
        self.reset_stats()
        self.sel = selectors.DefaultSelector()
        self.listener = socket.create_server(("127.0.0.1", 0))
        self.listener.setblocking(False)
        self.sel.register(self.listener, selectors.EVENT_READ, None)
        self._wake_r, self._wake_w = socket.socketpair()
        self._wake_r.setblocking(False)
        self.sel.register(self._wake_r, selectors.EVENT_READ, "wake")
        self.addr = "127.0.0.1:%d" % self.listener.getsockname()[1]
        self._stop = False
        self._next_cid = 0

    def reset_stats(self) -> None:
        self.cmds = {"FIN": 0, "TOUCH": 0, "REQ": 0, "RDY": 0, "NOP": 0}
        self.deliveries = 0
        self.redeliveries = 0
        self.ack_lag_ns: list[int] = []
        self.backlog_max = 0
        self.peak_connections = len(getattr(self, "conns", ()))

    # -- producer side (generator thread) --

    def publish(self, bodies: list[bytes]) -> range:
        """Queue the bodies; returns their message numbers."""
        t = now_ns()
        with self.lock:
            first = len(self.bodies)
            for body in bodies:
                n = len(self.bodies)
                self.bodies.append(body)
                self.pub_ns.append(t)
                self.attempts.append(0)
                self.first_delivery_ns.append(0)
                self.pending.append(n)
            self.backlog_max = max(self.backlog_max, len(self.pending))
        self._wake_w.send(b"x")
        return range(first, first + len(bodies))

    # -- event loop --

    def serve(self) -> None:
        while not self._stop:
            for key, mask in self.sel.select(self._timeout()):
                if key.data is None:
                    self._accept()
                elif key.data == "wake":
                    try:
                        self._wake_r.recv(65536)
                    except BlockingIOError:
                        pass
                else:
                    conn = key.data
                    if mask & selectors.EVENT_READ:
                        self._read(conn)
                    if mask & selectors.EVENT_WRITE and conn.cid in self.conns:
                        self._flush(conn)
            with self.lock:
                self._expire()
                self._dispatch()
            self._heartbeats()
            for conn in list(self.conns.values()):
                if conn.wbuf:
                    self._flush(conn)

    def stop(self) -> None:
        self._stop = True
        self._wake_w.send(b"x")

    def _timeout(self) -> float:
        t = time.monotonic_ns()
        nxt = t + int(1e9)
        if self.deadlines:
            nxt = min(nxt, self.deadlines[0][0])
        if self.deferred:
            nxt = min(nxt, self.deferred[0][0])
        return max(0.0, (nxt - t) / 1e9)

    def _accept(self) -> None:
        try:
            sock, _ = self.listener.accept()
        except BlockingIOError:
            return
        sock.setblocking(False)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._next_cid += 1
        conn = _Conn(sock, self._next_cid)
        self.conns[conn.cid] = conn
        self.peak_connections = max(self.peak_connections, len(self.conns))
        self.sel.register(sock, selectors.EVENT_READ, conn)

    def _close(self, conn: _Conn) -> None:
        if self.conns.pop(conn.cid, None) is None:
            return
        self.sel.unregister(conn.sock)
        conn.sock.close()
        with self.lock:  # nsqd requeues a departed client's in-flight
            for n in [n for n, (c, _d, _t) in self.in_flight.items() if c is conn]:
                del self.in_flight[n]
                self.pending.appendleft(n)

    def _read(self, conn: _Conn) -> None:
        try:
            chunk = conn.sock.recv(262144)
        except BlockingIOError:
            return
        except OSError:
            chunk = b""
        if not chunk:
            self._close(conn)
            return
        conn.rbuf += chunk
        if not conn.magic:
            if len(conn.rbuf) < 4:
                return
            if bytes(conn.rbuf[:4]) != b"  V2":
                self._close(conn)
                return
            del conn.rbuf[:4]
            conn.magic = True
        end = conn.rbuf.rfind(b"\n")
        if end < 0:
            return
        lines = bytes(conn.rbuf[:end]).split(b"\n")
        del conn.rbuf[: end + 1]
        t = now_ns()
        with self.lock:
            for line in lines:
                self._command(conn, line.split(b" "), t)
        if conn.closing:
            self._flush(conn)
            self._close(conn)

    def _command(self, conn: _Conn, parts: list[bytes], t: int) -> None:
        cmd = parts[0].decode("ascii", "replace")
        if cmd in self.cmds:
            self.cmds[cmd] += 1
        if cmd == "FIN":
            n = int(parts[1], 16)
            entry = self.in_flight.get(n)
            if entry is not None and entry[0] is conn:
                del self.in_flight[n]
                conn.in_flight -= 1
                self.finished.add(n)
                self.ack_lag_ns.append(t - entry[2])
        elif cmd == "RDY":
            conn.rdy = int(parts[1])
        elif cmd == "TOUCH":
            n = int(parts[1], 16)
            entry = self.in_flight.get(n)
            if entry is not None and entry[0] is conn:
                deadline = t + int(MSG_TIMEOUT_S * 1e9)
                self.in_flight[n] = (conn, deadline, entry[2])
                heapq.heappush(self.deadlines, (deadline, n))
        elif cmd == "REQ":
            n = int(parts[1], 16)
            entry = self.in_flight.get(n)
            if entry is not None and entry[0] is conn:
                del self.in_flight[n]
                conn.in_flight -= 1
                delay_ms = int(parts[2]) if len(parts) > 2 else 0
                heapq.heappush(self.deferred, (t + delay_ms * 1_000_000, n))
        elif cmd == "SUB":
            conn.subscribed = True
            conn.wbuf += _OK
        elif cmd == "CLS":
            conn.rdy = 0
            conn.wbuf += _CLOSE_WAIT
            conn.closing = True

    def _expire(self) -> None:
        t = now_ns()
        while self.deadlines and self.deadlines[0][0] <= t:
            deadline, n = heapq.heappop(self.deadlines)
            entry = self.in_flight.get(n)
            if entry is not None and entry[1] == deadline:  # else TOUCHed later
                del self.in_flight[n]
                entry[0].in_flight -= 1
                self.pending.appendleft(n)
        while self.deferred and self.deferred[0][0] <= t:
            self.pending.append(heapq.heappop(self.deferred)[1])

    def _dispatch(self) -> None:
        """Hand pending messages round-robin to connections with RDY room."""
        if not self.pending:
            return
        ready = [c for c in self.conns.values() if c.subscribed and not c.closing]
        if not ready:
            return
        t = now_ns()
        wall = time.time_ns()
        deadline = t + int(MSG_TIMEOUT_S * 1e9)
        start = self._rr
        while self.pending:
            progressed = False
            for i in range(len(ready)):
                conn = ready[(start + i) % len(ready)]
                if conn.in_flight >= conn.rdy or not self.pending:
                    continue
                n = self.pending.popleft()
                body = self.bodies[n]
                self.attempts[n] += 1
                if self.attempts[n] > 1:
                    self.redeliveries += 1
                else:
                    self.first_delivery_ns[n] = t
                self.deliveries += 1
                conn.wbuf += _MSG_HEAD.pack(len(body) + 30, 2, wall, self.attempts[n])
                conn.wbuf += b"%016x" % n
                conn.wbuf += body
                conn.in_flight += 1
                self.in_flight[n] = (conn, deadline, t)
                heapq.heappush(self.deadlines, (deadline, n))
                progressed = True
            if not progressed:
                break
        self._rr = start + 1

    def _heartbeats(self) -> None:
        t = time.monotonic()
        for conn in self.conns.values():
            if conn.subscribed and t - conn.last_heartbeat > HEARTBEAT_S:
                conn.last_heartbeat = t
                conn.wbuf += _HEARTBEAT

    def _flush(self, conn: _Conn) -> None:
        try:
            sent = conn.sock.send(memoryview(conn.wbuf)[conn.woff :])
        except BlockingIOError:
            sent = 0
        except OSError:
            self._close(conn)
            return
        conn.woff += sent
        if conn.woff == len(conn.wbuf):
            conn.wbuf.clear()
            conn.woff = 0
        elif conn.woff > 1 << 20:  # compact now and then, not on every send
            del conn.wbuf[: conn.woff]
            conn.woff = 0
        events = selectors.EVENT_READ | (selectors.EVENT_WRITE if conn.wbuf else 0)
        if conn.cid in self.conns:
            self.sel.modify(conn.sock, events, conn)


class _Http:
    __slots__ = ("sock", "buf", "out", "need", "head", "t_handled", "records")

    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.buf = bytearray()
        self.out = b""
        self.need = -1
        self.head: dict[str, str] | None = None
        self.t_handled = 0  # when the whole request had been read
        self.records: list | None = None  # PutRecords entries, once parsed


class Endpoint:
    """PutRecords endpoint; accepted requests go to ``self.accepted`` as
    (accept time ns, records)."""

    def __init__(self) -> None:
        self.accepted: queue.Queue = queue.Queue()
        self.handle_ns: list[int] = []
        self.wire_bytes = 0
        self.requests = 0
        self.bad_signatures = 0
        self.sel = selectors.DefaultSelector()
        self.listener = socket.create_server(("127.0.0.1", 0), backlog=64)
        self.listener.setblocking(False)
        self.sel.register(self.listener, selectors.EVENT_READ, None)
        self.url = "http://127.0.0.1:%d" % self.listener.getsockname()[1]
        self._stop = False

    def reset_stats(self) -> None:
        self.handle_ns = []
        self.wire_bytes = 0
        self.requests = 0

    def stop(self) -> None:
        self._stop = True

    def serve(self) -> None:
        while not self._stop:
            for key, mask in self.sel.select(0.2):
                if key.data is None:
                    try:
                        sock, _ = self.listener.accept()
                    except BlockingIOError:
                        continue
                    sock.setblocking(False)
                    self.sel.register(sock, selectors.EVENT_READ, _Http(sock))
                elif mask & selectors.EVENT_WRITE:
                    self._write(key.data)
                else:
                    self._read(key.data)

    def _read(self, h: _Http) -> None:
        try:
            chunk = h.sock.recv(1 << 20)
        except BlockingIOError:
            return
        except OSError:
            chunk = b""
        if not chunk:
            self.sel.unregister(h.sock)
            h.sock.close()
            return
        h.buf += chunk
        if h.head is None:
            end = h.buf.find(b"\r\n\r\n")
            if end < 0:
                return
            lines = bytes(h.buf[:end]).decode("latin-1").split("\r\n")
            h.head = {}
            for line in lines[1:]:
                name, _, value = line.partition(":")
                h.head[name.strip().lower()] = value.strip()
            del h.buf[: end + 4]
            h.need = int(h.head.get("content-length", "0"))
        if len(h.buf) < h.need:
            return
        self._handle(h, bytes(h.buf[: h.need]))

    def _handle(self, h: _Http, body: bytes) -> None:
        h.t_handled = now_ns()
        target = h.head.get("x-amz-target", "")
        records = None
        if not kplcheck.sigv4_ok(h.head, body, SECRET_KEY):
            self.bad_signatures += 1
            status, payload = "403 Forbidden", {"__type": "InvalidSignatureException"}
        elif target.endswith(".PutRecords"):
            records = json.loads(body)["Records"]
            status = "200 OK"
            payload = {
                "FailedRecordCount": 0,
                "Records": [
                    {"SequenceNumber": str(self.requests * 1000 + i),
                     "ShardId": "shardId-000000000000"}
                    for i in range(len(records))
                ],
            }
            self.wire_bytes += len(body)
            self.requests += 1
        else:
            status, payload = "200 OK", {}
        data = json.dumps(payload).encode()
        h.out = (
            f"HTTP/1.1 {status}\r\nContent-Type: application/x-amz-json-1.1\r\n"
            f"Content-Length: {len(data)}\r\nConnection: close\r\n\r\n"
        ).encode() + data
        h.records = records
        self.sel.modify(h.sock, selectors.EVENT_WRITE, h)
        self._write(h)

    def _write(self, h: _Http) -> None:
        try:
            sent = h.sock.send(h.out)
        except BlockingIOError:
            return
        except OSError:
            sent = len(h.out)
        h.out = h.out[sent:]
        if h.out:
            return
        t = now_ns()
        self.handle_ns.append(t - h.t_handled)
        self.sel.unregister(h.sock)
        h.sock.close()
        if h.records is not None:
            self.accepted.put((t, h.records))


class Decoder:
    """Decodes accepted entries and checks each user record against the
    published set: byte-exact bodies, valid frames and keys, no duplicate
    inside the dedup window, nothing over 1 MiB."""

    def __init__(self, endpoint: Endpoint, fault: str) -> None:
        self.endpoint = endpoint
        self.fault = fault
        self.expected: dict[int, bytes] = {}  # seq -> body, until delivered
        self.arrival_ns: dict[int, int] = {}  # seq -> accept time
        self.lock = threading.Lock()
        self.records = 0
        self.payload_bytes = 0
        self.duplicates = 0
        self.corrupt = 0
        self.bad_keys = 0
        self.oversize = 0
        self.unknown = 0
        self._entries_seen = 0
        self._stop = False

    def stop(self) -> None:
        self._stop = True

    def expect(self, pubs) -> None:
        with self.lock:
            for p in pubs:
                if not p.duplicate:
                    self.expected[p.seq] = p.body

    def delivered(self, seqs) -> int:
        with self.lock:
            return sum(1 for s in seqs if s in self.arrival_ns)

    def run(self) -> None:
        import base64

        while not self._stop:
            try:
                t, records = self.endpoint.accepted.get(timeout=0.2)
            except queue.Empty:
                continue
            for rec in records:
                self._entries_seen += 1
                if self.fault == "drop" and self._entries_seen == 3:
                    continue  # planted fault: an accepted entry goes missing
                key = rec["PartitionKey"]
                data = base64.b64decode(rec["Data"])
                reps = 2 if self.fault == "dup" and self._entries_seen == 3 else 1
                for _ in range(reps):
                    self._entry(t, key, data)

    def _entry(self, t: int, key: str, data: bytes) -> None:
        with self.lock:
            if not kplcheck.valid_partition_key(key):
                self.bad_keys += 1
            try:
                users = kplcheck.decode_entry(data, key)
            except kplcheck.CorruptFrame:
                self.corrupt += 1
                return
            for ukey, body in users:
                self.records += 1
                self.payload_bytes += len(body)
                if not kplcheck.valid_partition_key(ukey):
                    self.bad_keys += 1
                if len(body) > workloads.MAX_BODY_BYTES:
                    self.oversize += 1
                head = workloads.parse_body(body)
                if head is None:
                    self.unknown += 1
                    continue
                seq = head[0]
                if seq in self.arrival_ns:
                    self.duplicates += 1
                elif self.expected.get(seq) == body:
                    del self.expected[seq]
                    self.arrival_ns[seq] = t
                else:
                    self.unknown += 1


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def go(nsqd: Nsqd, endpoint: Endpoint, dec: Decoder, phase, backlog, seconds: float) -> dict:
    """Fixed-rate phase, then the backlog at once; the run ends when every
    unique body is delivered or ``seconds`` after the phase began. An
    undelivered body is lost once any message carrying it was FINished:
    the source FINs a message only after the batch holding it has been
    committed, i.e. after the sink accepted the batch. Otherwise it is
    pending (still queued or in flight), which at-least-once allows."""
    nsqd.reset_stats()
    endpoint.reset_stats()
    dec.expect(phase)
    dec.expect(backlog)
    first_n = len(nsqd.bodies)
    carriers: dict[int, list[int]] = {}  # seq -> message numbers carrying it
    late_ns: list[int] = []
    t0 = now_ns() + 20_000_000
    i = 0
    while i < len(phase):  # open loop: publish whatever is due, then sleep
        t = now_ns()
        j = i
        while j < len(phase) and t0 + phase[j].due_ns <= t:
            j += 1
        if j == i:
            time.sleep(min((t0 + phase[i].due_ns - t) / 1e9, 0.05))
            continue
        ns = nsqd.publish([p.body for p in phase[i:j]])
        t_pub = now_ns()
        for p, n in zip(phase[i:j], ns):
            carriers.setdefault(p.seq, []).append(n)
            late_ns.append(t_pub - (t0 + p.due_ns))
        i = j
    t_backlog = now_ns()
    n_phase_msgs = len(nsqd.bodies) - first_n
    for p, n in zip(backlog, nsqd.publish([p.body for p in backlog])):
        carriers.setdefault(p.seq, []).append(n)

    phase_seqs = {p.seq for p in phase if not p.duplicate}
    backlog_seqs = {p.seq for p in backlog if not p.duplicate}
    expected = phase_seqs | backlog_seqs
    t_cap = t0 + int(seconds * 1e9)
    while dec.delivered(expected) < len(expected) and now_ns() < t_cap:
        time.sleep(0.02)
    t_end = now_ns()
    if dec.delivered(expected) == len(expected):
        time.sleep(1.0)  # a late duplicate would land within about a trigger

    with dec.lock, nsqd.lock:
        arrival = dec.arrival_ns
        latency_ms = [
            (arrival.get(p.seq, t_end) - (t0 + p.due_ns)) / 1e6
            for p in phase
            if not p.duplicate
        ]
        drain_ns = sorted(arrival.get(s, t_end) - t_backlog for s in backlog_seqs)
        undelivered = [s for s in expected if s not in arrival]
        lost = sum(1 for s in undelivered if any(n in nsqd.finished for n in carriers[s]))
        measured = range(first_n, len(nsqd.bodies))
        read_lag_ms = [
            (nsqd.first_delivery_ns[n] - nsqd.pub_ns[n]) / 1e6
            for n in measured[:n_phase_msgs]
            if nsqd.first_delivery_ns[n]
        ]
        delivered_msgs = sum(1 for n in measured if nsqd.first_delivery_ns[n])
        return {
            "latency_ms": latency_ms,
            "drain_ns": drain_ns,
            "published": len(phase) + len(backlog),
            "unique_expected": len(expected),
            "pending": len(undelivered) - lost,
            "lost": lost,
            "duplicates": dec.duplicates,
            "corrupt": dec.corrupt,
            "bad_keys": dec.bad_keys,
            "oversize_delivered": dec.oversize,
            "unknown": dec.unknown,
            "bad_signatures": endpoint.bad_signatures,
            "payload_bytes": dec.payload_bytes,
            "gen_late_ms_p99": _pct(late_ns, 0.99) / 1e6,
            "gen_offered_rate": len(phase) / max((t_backlog - t0) / 1e9, 1e-9),
            "nsq": {
                "read_lag_ms_p50": _pct(read_lag_ms, 0.5),
                "read_lag_ms_p99": _pct(read_lag_ms, 0.99),
                "backlog_max": nsqd.backlog_max,
                "cmds_per_msg": sum(nsqd.cmds[c] for c in ("FIN", "TOUCH", "REQ", "RDY"))
                / max(nsqd.deliveries, 1),
                "ack_lag_ms_p50": _pct(nsqd.ack_lag_ns, 0.5) / 1e6,
                "redeliveries": nsqd.redeliveries,
                "useful_delivery_ratio": delivered_msgs / max(nsqd.deliveries, 1),
                "connections": nsqd.peak_connections,
            },
            "http": {
                "endpoint_ms": [v / 1e6 for v in endpoint.handle_ns],
                "wire_bytes": endpoint.wire_bytes,
            },
        }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads.FORWARD_WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--fault", choices=("none", "drop", "dup"), default="none")
    args = p.parse_args(argv)

    phase, backlog = workloads.schedule(args.workload, args.seed, args.seconds)
    nsqd = Nsqd()
    endpoint = Endpoint()
    dec = Decoder(endpoint, args.fault)
    threads = [threading.Thread(target=f, daemon=True) for f in (nsqd.serve, endpoint.serve, dec.run)]
    for t in threads:
        t.start()
    print(json.dumps({"nsqd": nsqd.addr, "endpoint": endpoint.url,
                      "access_key": ACCESS_KEY, "secret_key": SECRET_KEY}), flush=True)
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg["cmd"]
        if cmd == "go":
            print(json.dumps(go(nsqd, endpoint, dec, phase, backlog, args.seconds)), flush=True)
        elif cmd == "load":  # capacity self-check: queue n bodies of one size
            body = b"x" * msg["size"]
            nsqd.publish([body] * msg["n"])
            print(json.dumps({"published": msg["n"]}), flush=True)
        elif cmd == "stats":
            with dec.lock:
                print(json.dumps({"records": dec.records}), flush=True)
        elif cmd == "exit":
            break
    for part in (nsqd, endpoint, dec):
        part.stop()
    for t in threads:
        t.join(timeout=5)
    return 0


if __name__ == "__main__":
    sys.exit(main())
