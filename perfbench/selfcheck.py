"""Harness capacity self-check.

Drives the benchmark's own nsqd and Kinesis endpoint (one harness.py
process, exactly as in a run) from separate processes that do no work of
their own: a null consumer that FINs every message on four connections,
and a null sender that posts pre-built, signed PutRecords requests on four
connections. The ceilings it prints must sit far above every rate the
benchmark offers or drains, or the harness would be part of what it
measures.

    python3 perfbench/selfcheck.py            # from the repository root
"""

from __future__ import annotations

import argparse
import base64
import http.client
import json
import os
import selectors
import socket
import struct
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

CONNECTIONS = 4


def null_consumer(addr: str, n: int) -> float:
    """Receive and FIN ``n`` messages over CONNECTIONS connections;
    returns the elapsed seconds."""
    host, port = addr.rsplit(":", 1)
    sel = selectors.DefaultSelector()
    for _ in range(CONNECTIONS):
        s = socket.create_connection((host, int(port)))
        s.sendall(b"  V2SUB perfbench nsq2kinesis\nRDY 250\n")
        s.setblocking(False)
        sel.register(s, selectors.EVENT_READ, bytearray())
    got = 0
    t0 = time.perf_counter()
    while got < n:
        for key, _ in sel.select(5):
            buf = key.data
            buf += key.fileobj.recv(1 << 20)
            fins = []
            pos = 0
            while len(buf) - pos >= 4:
                size = struct.unpack_from(">i", buf, pos)[0]
                if len(buf) - pos < 4 + size:
                    break
                if struct.unpack_from(">i", buf, pos + 4)[0] == 2:
                    fins.append(b"FIN " + bytes(buf[pos + 18 : pos + 34]) + b"\n")
                    got += 1
                pos += 4 + size
            del buf[:pos]
            if fins:
                key.fileobj.setblocking(True)
                key.fileobj.sendall(b"".join(fins))
                key.fileobj.setblocking(False)
    elapsed = time.perf_counter() - t0
    for key in list(sel.get_map().values()):
        key.fileobj.close()
    return elapsed


def build_requests(url: str, body_size: int, n_records: int) -> list[tuple[bytes, dict]]:
    """Signed PutRecords requests carrying ``n_records`` generated bodies,
    packed the way the sink packs them (KPL aggregates up to 25 KB, at
    most 500 entries and 4.9 MB per call)."""
    from nsq2kinesis_spark.streaming.kinesis_http import sign_request
    from nsq2kinesis_spark.streaming.kpl import KplAggregator

    import harness
    import workloads

    import random

    rng = random.Random(0)
    agg = KplAggregator()
    for seq in range(n_records):
        agg.put(workloads.body_for(seq, 0, body_size, rng), None)
    entries = agg.drain()
    host = url.split("//", 1)[1]
    out = []
    i = 0
    while i < len(entries):
        chunk, size = [], 0
        while i < len(entries) and len(chunk) < 500 and size + len(entries[i].data) < 4_900_000:
            chunk.append(entries[i])
            size += len(entries[i].data)
            i += 1
        body = json.dumps(
            {
                "StreamName": "perfbench",
                "Records": [
                    {"Data": base64.b64encode(e.data).decode(), "PartitionKey": e.partition_key}
                    for e in chunk
                ],
            }
        ).encode()
        headers = sign_request(
            host=host, target="Kinesis_20131202.PutRecords", body=body, region="us-east-1",
            access_key=harness.ACCESS_KEY, secret_key=harness.SECRET_KEY,
            amz_date=time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
        )
        out.append((body, headers))
    return out


def null_sender(url: str, requests: list[tuple[bytes, dict]]) -> float:
    host, port = url.split("//", 1)[1].rsplit(":", 1)
    todo = list(requests)
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                if not todo:
                    return
                body, headers = todo.pop()
            conn = http.client.HTTPConnection(host, int(port), timeout=30)
            conn.request("POST", "/", body=body, headers=headers)
            resp = conn.getresponse()
            resp.read()
            if resp.status != 200:
                raise RuntimeError(f"endpoint answered {resp.status}")
            conn.close()

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def _child(role: str, target: str, n: int, size: int) -> None:
    if role == "consumer":
        print(json.dumps({"elapsed": null_consumer(target, n)}), flush=True)
    else:
        reqs = build_requests(target, size, n)
        print(json.dumps({"elapsed": null_sender(target, reqs), "requests": len(reqs)}),
              flush=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Measure the harness's own ceilings.")
    p.add_argument("--role", choices=("consumer", "sender"), help=argparse.SUPPRESS)
    p.add_argument("--target", help=argparse.SUPPRESS)
    p.add_argument("--n", type=int, help=argparse.SUPPRESS)
    p.add_argument("--size", type=int, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.role:
        _child(args.role, args.target, args.n, args.size)
        return 0

    import workloads

    harness = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), "--workload", "forward_small",
         "--seed", "0", "--seconds", "1"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=ROOT,
    )

    def ask(obj) -> dict:
        harness.stdin.write((json.dumps(obj) + "\n").encode())
        harness.stdin.flush()
        return json.loads(harness.stdout.readline())

    def child(role: str, target: str, n: int, size: int) -> dict:
        out = subprocess.run(
            [sys.executable, __file__, "--role", role, "--target", target, "--n", str(n),
             "--size", str(size)],
            capture_output=True, cwd=ROOT, check=True, timeout=300,
        )
        return json.loads(out.stdout.decode().strip().splitlines()[-1])

    rows = []
    try:
        ports = json.loads(harness.stdout.readline())
        n, size = 40000, 256  # forward_small's geometric-mean body
        ask({"cmd": "load", "n": n, "size": size})
        r = child("consumer", ports["nsqd"], n, size)
        rows.append(("nsqd", n / r["elapsed"], n * size / r["elapsed"] / 1e6))
        before = ask({"cmd": "stats"})["records"]
        r = child("sender", ports["endpoint"], n, size)
        t_sent = time.perf_counter()
        while ask({"cmd": "stats"})["records"] < before + n:
            time.sleep(0.01)
        elapsed = r["elapsed"] + time.perf_counter() - t_sent
        rows.append(("endpoint", n / r["elapsed"], n * size / r["elapsed"] / 1e6))
        rows.append(("endpoint+decode", n / elapsed, n * size / elapsed / 1e6))
    finally:
        harness.stdin.close()
        try:
            harness.wait(timeout=10)
        except subprocess.TimeoutExpired:
            harness.kill()
            harness.wait()

    for name, rate, mb in rows:
        print(f"{name:24s} {rate:12.0f} rec/s {mb:9.1f} MB/s")
    print("offered: " + ", ".join(f"{w} {rate:g} msg/s" for w, rate in workloads.RATES.items()))
    print(json.dumps({name.replace(" ", "_").replace("+", "_"): {"rec_per_s": rate, "mb_per_s": mb}
                      for name, rate, mb in rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
