"""Steadiness check: run workloads repeatedly on one commit.

    python3 perfbench/steady.py [--workload NAME ...] [--runs 10] [--sets 1]

Runs ``BENCHMARK.json``'s command once per seed (``--first-seed`` upward)
for each workload and prints, for every end-to-end metric, the median, the
first and third quartiles (``statistics.quantiles(values, n=4)``) and the
spread (Q3 - Q1) / median against the metric's bound. A spread must stay
within its bound and should stay below a third of it. With ``--sets 2``
the runs are repeated with the same seeds and the second median must not
be worse than the first by more than the bound. The end-to-end metrics a
run prints but BENCHMARK.json does not list (latency and drain rate of
``forward_small``, job times of ``llm_corpus``) get the same summary,
marked "not listed", and decide nothing. A run that leaves a process of
its session behind fails the check. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from procs import session_pids  # noqa: E402


def one_run(spec: dict, workload: str, seed: int) -> dict:
    """The run's JSON result, with every end-to-end metric it printed
    added under ``metrics``."""
    argv = spec["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.Popen(argv, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            start_new_session=True)
    stdout, stderr = proc.communicate(timeout=600)
    left = session_pids(proc.pid)
    if left:
        raise RuntimeError(f"{workload} seed {seed} left processes {left} running")
    lines = stdout.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{stderr.decode()[-2000:]}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        m = re.match(r"\S+\s+(\S+) = (\S+) (\S+)$", line)
        if m and m.group(1) in metrics.END_TO_END:
            result["metrics"].setdefault(m.group(1), {"value": float(m.group(2)),
                                                      "unit": m.group(3)})
    return result


def summarize(names, runs: list[dict]) -> dict:
    out = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("inf"),
                     "values": values}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1, choices=(1, 2))
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    report = {}
    for name in names:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                r = one_run(spec, name, args.first_seed + i)
                runs.append(r)
                print(f"{name} set {s + 1} seed {args.first_seed + i}: correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
                ok &= r["correct"]
            sets.append(summarize(runs[0]["metrics"], runs))
        report[name] = sets
        listed = {m["name"]: m for m in spec["end_to_end"]}
        for metric in sets[0]:
            first = sets[0][metric]
            m = listed.get(metric)
            if m is None:
                print(f"{name:14s} {metric:18s} median {first['median']:10.4g} "
                      f"{metrics.unit(metric):6s} q1 {first['q1']:10.4g} q3 {first['q3']:10.4g} "
                      f"spread {first['spread']:.3f}  not listed", flush=True)
                continue
            verdict = "ok"
            if first["spread"] > m["bound"]:
                verdict, ok = "SPREAD OVER BOUND", False
            elif first["spread"] > m["bound"] / 3:
                verdict = "over a third of the bound"
            line = (f"{name:14s} {m['name']:18s} median {first['median']:10.4g} {m['unit']:6s} "
                    f"q1 {first['q1']:10.4g} q3 {first['q3']:10.4g} "
                    f"spread {first['spread']:.3f} bound {m['bound']:.2f}  {verdict}")
            if len(sets) == 2:
                second = sets[1][metric]["median"]
                worse = (second - first["median"]) / first["median"]
                if m["better"] == "higher":
                    worse = -worse
                line += f"  second median {second:.4g} ({worse:+.3f})"
                if worse > m["bound"]:
                    line += " WORSE THAN BOUND"
                    ok = False
            print(line, flush=True)
    print(json.dumps({"ok": ok, "report": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
