"""Per-layer report of one workload: an untraced and a traced run.

    python3 perfbench/report.py --workload NAME [--seed N] [--seconds S]

Prints every per-layer metric the traced run measured, grouped by layer,
with the end-to-end metric it should move and a mark on the ones that
BENCHMARK.json lists, each layer's self time per data batch,
and the tracing overhead: each traced end-to-end number minus the untraced
one from the same seed. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """The run's JSON result, and every "name = value unit" line it printed."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"run failed:\n{out.stderr.decode()[-2000:]}")
    lines = out.stdout.decode().strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        m = re.match(r"\S+\s+(\S+) = (\S+) (\S+)", line)
        if m:
            printed[m.group(1)] = (float(m.group(2)), m.group(3))
    return json.loads(lines[-1]), printed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    args = p.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    _plain, printed = run(args.workload, args.seed, seconds, 0)
    traced, traced_printed = run(args.workload, args.seed, seconds, 1)
    layers: dict[str, list[str]] = {}
    for name, (value, unit) in traced_printed.items():
        if name not in metrics.PER_LAYER:
            continue
        _unit, _better, layer, target = metrics.PER_LAYER[name]
        listed = "*" if name in traced["metrics"] else " "
        layers.setdefault(layer, []).append(
            f" {listed}{name:36s} {value:12.5g} {unit:6s} -> {target}"
        )
    print(f"{args.workload} seed {args.seed}: correct={traced['correct']} "
          f"failed={traced['failed']}/{traced['attempted']}  (* = listed in BENCHMARK.json)")
    for layer in sorted(layers):
        print(layer)
        print("\n".join(layers[layer]))
    print("tracing overhead (traced - untraced)")
    for name, (value, unit) in printed.items():
        t = traced_printed.get(f"trace.{name}")
        if t is not None:
            print(f"  {name:36s} untraced {value:10.5g}  traced {t[0]:10.5g}  "
                  f"overhead {t[0] - value:+10.4g} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
