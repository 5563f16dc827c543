"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. ``forward_small`` starts the harness
process (harness.py: nsqd, Kinesis endpoint, open-loop generator) and the
Spark driver process (driver.py), waits for the pipeline's first trigger,
then runs a fixed-rate phase and a backlog drain through the real source,
pipeline, sink and SigV4 client. ``llm_corpus`` runs the near-dup and
vector-search jobs (batch.py).

Every line but the last is for people: every metric the run measured, by
name and unit, and ``failed_frac``. The last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the metrics that
BENCHMARK.json lists as ``end_to_end`` with ``--trace 0``, as ``per_layer``
with ``--trace 1``. Exits non-zero without a result when the engine cannot
be imported or a step fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
from procs import STEP_TIMEOUT_S, Child, RssSampler, adopt_orphans, child_env  # noqa: E402


def pct(values, q: float) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    return s[min(len(s) - 1, int(q * len(s)))]


def drain_rate(drain_ns: list[int]) -> float:
    """Unique records per second between the 10th and 90th percentile
    arrivals of the backlog: the start-up and tail batches are left out."""
    n = len(drain_ns)
    lo, hi = int(0.1 * n), int(0.9 * n) - 1
    if n < 10 or drain_ns[hi] <= drain_ns[lo]:
        return n / max(drain_ns[-1] / 1e9, 1e-9) if n else 0.0
    return (hi - lo) / ((drain_ns[hi] - drain_ns[lo]) / 1e9)


def kpl_layer(workload: str, seed: int, seconds: float) -> dict:
    """Direct timed KplAggregator calls on the workload's own body mix."""
    import workloads
    from nsq2kinesis_spark.streaming.kpl import KplAggregator

    phase, backlog = workloads.schedule(workload, seed, seconds)
    bodies = [p.body for p in phase + backlog]
    # the pipeline hands the sink a 16-hex-digit partition key per record
    keys = [hashlib.blake2b(b, digest_size=8).hexdigest() for b in bodies]
    nbytes = sum(map(len, bodies))
    put_us, mb_s = [], []
    for _ in range(3):
        agg = KplAggregator()
        t0 = time.perf_counter()
        for b, k in zip(bodies, keys):
            agg.put(b, k)
        t1 = time.perf_counter()
        agg.drain()
        t2 = time.perf_counter()
        put_us.append((t1 - t0) / len(bodies) * 1e6)
        mb_s.append(nbytes / (t2 - t0) / 1e6)
    return {"kpl.put_us_per_rec": statistics.median(put_us),
            "kpl.encode_mb_per_s": statistics.median(mb_s)}


def union_ns(intervals) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def trace_layers(trace: dict, res: dict) -> dict:
    """Per-layer metrics from the driver's trace dump and the harness."""
    prog = [p for p in trace["progress"] if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in prog]
    g = lambda d, *ks: sum(d.get(k, 0) for k in ks)  # noqa: E731
    states = [op for p in prog for op in p.get("stateOperators", [])]
    dropped = sum(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in states)
    spans = trace["spans"]
    data_batches = {p["batchId"] for p in prog}
    epochs = [s for s in spans if s[0] == "sink.epoch" and s[4] in data_batches]
    puts = [s for s in spans if s[0] == "http.put"]
    put_ms = [(s[2] - s[1]) / 1e6 for s in puts]
    sm = trace["sink_metrics"]
    n_in = sum(m["n_input"] for m in sm)
    n_entries = sum(m["n_entries"] for m in sm)
    n_calls = sum(m["n_calls"] for m in sm)
    nb = max(len(prog), 1)
    http_union = union_ns((s[1], s[2]) for s in puts) / 1e6
    endpoint_total = sum(res["http"]["endpoint_ms"])
    out = {
        "pipeline.trigger_ms.p50": pct([g(d, "triggerExecution") for d in dur], 0.5),
        "pipeline.trigger_ms.p99": pct([g(d, "triggerExecution") for d in dur], 0.99),
        "pipeline.source_ms.p50": pct([g(d, "latestOffset", "getBatch") for d in dur], 0.5),
        "pipeline.checkpoint_ms.p50": pct([g(d, "walCommit", "commitOffsets") for d in dur], 0.5),
        "pipeline.addbatch_ms.p50": pct([g(d, "addBatch") for d in dur], 0.5),
        "pipeline.state_rows.max": max([op.get("numRowsTotal", 0) for op in states], default=0),
        "pipeline.state_bytes.max": max([op.get("memoryUsedBytes", 0) for op in states], default=0),
        "pipeline.batches": len(prog),
        "pipeline.rows_per_batch.p50": pct([p["numInputRows"] for p in prog], 0.5),
        "pipeline.dedup_dropped": dropped,
        "sink.epoch_ms.p50": pct([(s[2] - s[1]) / 1e6 for s in epochs], 0.5),
        "sink.epoch_ms.p99": pct([(s[2] - s[1]) / 1e6 for s in epochs], 0.99),
        "sink.recs_per_entry": n_in / max(n_entries, 1),
        "sink.entries_per_call": n_entries / max(n_calls, 1),
        "sink.calls": n_calls,
        "sink.retried": sum(m["n_retried"] for m in sm),
        "sink.oversize_dropped": sum(m["n_oversize_dropped"] for m in sm),
        "http.put_ms.p50": pct(put_ms, 0.5),
        "http.put_ms.p99": pct(put_ms, 0.99),
        "http.wire_bytes_per_payload_byte": res["http"]["wire_bytes"] / max(res["payload_bytes"], 1),
        "http.endpoint_ms.p50": pct(res["http"]["endpoint_ms"], 0.5),
        "self.pipeline_ms": sum(g(d, "triggerExecution") - g(d, "addBatch") for d in dur) / nb,
        "self.sink_ms": max(sum((s[2] - s[1]) / 1e6 for s in epochs) - http_union, 0.0) / nb,
        "self.http_ms": max(http_union - endpoint_total, 0.0) / nb,
        "self.endpoint_ms": endpoint_total / nb,
    }
    for k, v in res["nsq"].items():
        name = k.replace("_p50", ".p50").replace("_p99", ".p99")
        out[f"nsq.{name}"] = v
    return out


FAILURES = ("lost", "duplicates", "corrupt", "bad_keys", "oversize_delivered", "unknown",
            "bad_signatures")


def forward(args, workdir: str) -> tuple[dict, dict, list[str]]:
    env = child_env(workdir)
    py = sys.executable
    harness = Child(
        [py, os.path.join(HERE, "harness.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--fault", args.fault],
        env, os.path.join(workdir, "harness.log"),
    )
    children = [harness]
    try:
        ports = harness.recv()
        driver = Child(
            [py, os.path.join(HERE, "driver.py"), "--nsqd", ports["nsqd"],
             "--endpoint", ports["endpoint"], "--workdir", os.path.join(workdir, "driver"),
             "--access-key", ports["access_key"], "--secret-key", ports["secret_key"],
             "--started", repr(time.time())]
            + (["--cpus", str(args.cpus)] if args.cpus else [])
            + (["--trace"] if args.trace else []),
            env, os.path.join(workdir, "driver.log"),
        )
        children.append(driver)
        sampler = RssSampler(driver.proc.pid)
        sampler.start()
        setup = driver.recv(STEP_TIMEOUT_S)
        print(f"{args.workload}  session up in {setup['session_s']:.2f} s, "
              f"first trigger {setup['pipeline_s']:.2f} s later", flush=True)
        harness.send({"cmd": "go"})
        res = harness.recv(args.seconds * 4 + 150)
        sampler.done.set()
        # only a traced driver has anything to write at exit
        driver.stop(timeout=60 if args.trace else 0)
        harness.send({"cmd": "exit"})
        if args.keep:
            with open(os.path.join(workdir, "result.json"), "w") as fh:
                json.dump({"setup": setup, **res}, fh)
    finally:
        for c in children:
            c.stop(timeout=10)

    print(f"{args.workload}  published {res['published']} messages, "
          f"{res['unique_expected']} unique bodies to deliver, "
          f"{res['pending']} still held by nsqd at the end of the run; "
          f"latency over the {len(res['latency_ms'])} unique bodies of the fixed-rate phase",
          flush=True)
    failures = [f"{key}={res[key]}" for key in FAILURES if res[key]]
    counts = {"attempted": res["published"], "failed": sum(res[key] for key in FAILURES)}
    # p90 is the highest percentile with at least ten samples beyond it
    e2e = {"setup_s": setup["setup_s"]}
    for name in ("fwd_p50_ms", "fwd_p90_ms", "fwd_p99_ms"):
        e2e[name] = pct(res["latency_ms"], int(name[5:7]) / 100)
    e2e["drain_recs_per_s"] = drain_rate(res["drain_ns"])
    if not args.trace:
        return e2e, counts, failures
    with open(os.path.join(workdir, "driver", "trace.json")) as fh:
        trace = json.load(fh)
    layers = trace_layers(trace, res)
    layers.update(kpl_layer(args.workload, args.seed, args.seconds))
    # executor totals over the jobs after the first trigger
    totals = eventlog.task_totals(
        os.path.join(workdir, "driver", "events"),
        lambda ev: "run" if ev.get("Submission Time", 0) >= trace["ready_ms"] else None,
    )
    layers.update(eventlog.spark_layer(totals.values()))
    layers.update(
        {
            "session.start_s": setup["session_s"],
            "pipeline.start_s": setup["pipeline_s"],
            "session.peak_rss_mb": sampler.peak / 2**20,
            "gen.late_ms.p99": res["gen_late_ms_p99"],
            "gen.offered_rate": res["gen_offered_rate"],
        }
    )
    layers.update({f"trace.{k}": v for k, v in e2e.items()})
    return layers, counts, failures


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores (default: all)")
    p.add_argument("--fault", choices=("none", "drop", "dup", "row"), default="none",
                   help="plant a fault the checker must catch")
    p.add_argument("--keep", action="store_true", help="keep the work directory")
    args = p.parse_args(argv)
    # a terminated run still stops its children (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()

    try:
        import nsq2kinesis_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload != "llm_corpus" and args.workload not in workloads.FORWARD_WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"]
                  for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]}

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        if args.workload == "llm_corpus":
            import batch

            metrics, counts, failures = batch.run(args, workdir)
        else:
            metrics, counts, failures = forward(args, workdir)
    finally:
        if not args.keep:
            shutil.rmtree(workdir, ignore_errors=True)

    import metrics as metrics_table

    for name, value in metrics.items():
        print(f"{args.workload}  {name} = {value:.6g} {metrics_table.unit(name)}")
    frac = counts["failed"] / max(counts["attempted"], 1)
    print(f"{args.workload}  failed_frac = {frac:.6g} ratio"
          + (f"  ({', '.join(failures)})" if failures else ""))
    missing = [name for name in listed if name not in metrics]
    if missing:
        print(f"perfbench: {args.workload} measured no {', '.join(missing)}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": counts["failed"] == 0,
                "attempted": counts["attempted"],
                "failed": counts["failed"],
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in listed.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
