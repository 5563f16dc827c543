"""The ``llm_corpus`` workload: near-dup and vector-search batch jobs.

The orchestrator side (``run``) writes seeded ``documents`` and
``embeddings`` tables in the sf0.1 schema and size, then starts this file
as the Spark driver process. The driver makes one untimed pass of the
shared shingle postings, q75, q76, q78, q80 and q82 that collects every
output, which warms the session and feeds the checks, then times
``--passes`` passes of the same jobs, each forced with a noop sink (the
cache cleared between jobs as bench.py does, except that q75 and q76 read
the persisted postings). Each collected output is checked against its
DuckDB twin from the registry; q76 is approximate by design and is checked
on rows and on recall against q75.

Usage (driver side): python3 batch.py --data DIR --workdir DIR
       --started WALL_S --passes N [--trace] [--fault row]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

import eventlog

NEARDUP = ("postings", "q75_neardup_jaccard", "q76_neardup_minhash_lsh", "q78_simhash_pairs")
VECTOR = ("q80_cosine_topk", "q82_ann_ivf")
READS_POSTINGS = {"q75_neardup_jaccard", "q76_neardup_minhash_lsh"}
LSH_RECALL_FLOOR = 0.9  # the engine's own gate for q76 against q75
PASS_SECONDS = 20  # about one timed pass on a 4-core host

WORDS = (
    "a the data spark stream batch query table row column key value hash join "
    "group agg filter scan sort merge window order part line small big fast "
    "slow vector customer index shard record"
).split()


def write_tables(data_dir: str, seed: int) -> None:
    """5000 documents (10% near copies of another document) and 2000
    64-dimensional embeddings around 10 label centroids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"llm_corpus:{seed}")
    texts: list[str] = []
    for i in range(5000):
        if i > 10 and rng.random() < 0.1:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 100))]
        texts.append(" ".join(words))
    langs = ["en", "de", "fr", "es", "zh"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(5000), pa.int64()),
                "text": texts,
                "lang": [langs[rng.randrange(5)] for _ in texts],
                "source": [f"src{i % 20}" for i in range(5000)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(data_dir, "documents.parquet"),
    )
    centroids = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(2000)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(2000), pa.int64()),
                "embedding": pa.array(
                    [[c + rng.gauss(0, 0.6) for c in centroids[lab]] for lab in labels],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(data_dir, "embeddings.parquet"),
    )


def run(args, workdir: str) -> tuple[dict, dict, list[str]]:
    """Orchestrator side: returns (metrics, counts, failures)."""
    from procs import Child, RssSampler, child_env

    data = os.path.join(workdir, "data")
    os.makedirs(data, exist_ok=True)
    write_tables(data, args.seed)
    passes = max(1, round(args.seconds / PASS_SECONDS))
    child = Child(
        [sys.executable, os.path.abspath(__file__), "--data", data, "--workdir", workdir,
         "--started", repr(time.time()), "--passes", str(passes)]
        + (["--trace"] if args.trace else [])
        + (["--fault", "row"] if args.fault == "row" else []),
        child_env(workdir), os.path.join(workdir, "batch.log"),
    )
    sampler = RssSampler(child.proc.pid)
    sampler.start()
    try:
        res = child.recv(170)
    finally:
        sampler.done.set()
        child.stop()
    failures = [f"{name}: {why}" for name, why in res["failures"].items()]
    counts = {"attempted": len(NEARDUP) + len(VECTOR), "failed": len(failures)}
    e2e = {
        "setup_s": res["session_s"],
        "neardup_s": statistics.median(res["neardup_s"]),
        "vector_s": statistics.median(res["vector_s"]),
    }
    if not args.trace:
        return e2e, counts, failures
    layers = {"session.start_s": res["session_s"], "session.peak_rss_mb": sampler.peak / 2**20}
    layers.update(res["jobs"])
    layers.update({f"trace.{k}": v for k, v in e2e.items()})
    return layers, counts, failures


def _rows(df_rows, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df_rows)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--data", required=True)
    p.add_argument("--workdir", required=True)
    p.add_argument("--started", type=float, required=True)
    p.add_argument("--passes", type=int, default=1)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--fault", choices=("none", "row"), default="none")
    args = p.parse_args(argv)

    from nsq2kinesis_spark.operators.llm_dedup import shared_postings
    from nsq2kinesis_spark.registry import all_queries
    from nsq2kinesis_spark.session import get_spark

    local = os.path.join(args.workdir, "spark-local")
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
    }
    events = os.path.join(args.workdir, "events")
    if args.trace:
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench_llm", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - args.started
    queries = all_queries()
    sc = spark.sparkContext

    def one_pass(tag: str, collect: bool = False) -> tuple[dict, dict]:
        """Wall time of each job, and its (columns, rows) when ``collect``."""
        times, outputs = {}, {}
        for name in NEARDUP + VECTOR:
            if name not in READS_POSTINGS:
                spark.catalog.clearCache()
            sc.setJobGroup(f"{tag}:{name}", name)
            t0 = time.perf_counter()
            if name == "postings":
                df = shared_postings(spark, args.data)
                df.persist()
                df.count()
            else:
                df = queries[name].builder(spark, args.data)
                if collect:
                    outputs[name] = (sorted(df.columns), df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
            times[name] = time.perf_counter() - t0
        return times, outputs

    _, outputs = one_pass("check", collect=True)
    passes = [one_pass(f"pass{i}")[0] for i in range(args.passes)]
    if args.fault == "row" and outputs["q80_cosine_topk"][1]:
        cols, rows = outputs["q80_cosine_topk"]
        outputs["q80_cosine_topk"] = (cols, rows[1:])  # planted fault: a row goes missing

    failures: dict[str, str] = {}
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(args.data, t)}.parquet'")
    for name, (cols, rows) in outputs.items():
        if queries[name].oracle is None:
            continue
        res = con.execute(queries[name].oracle)
        dcols = [d[0] for d in res.description]
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        want = sorted(tuple(str(row[i]) for i in order) for row in res.fetchall())
        if cols != sorted(dcols):
            failures[name] = f"columns {cols} != oracle {sorted(dcols)}"
        elif _rows(rows, cols) != want:
            failures[name] = f"{len(rows)} rows differ from the oracle's {len(want)}"
    exact = {tuple(sorted((r[0], r[1]))) for r in outputs["q75_neardup_jaccard"][1]}
    lsh_rows = outputs["q76_neardup_minhash_lsh"][1]
    lsh = {tuple(sorted((r[0], r[1]))) for r in lsh_rows}
    if not lsh_rows:
        failures["q76_neardup_minhash_lsh"] = "no rows"
    elif exact and len(exact & lsh) / len(exact) < LSH_RECALL_FLOOR:
        failures["q76_neardup_minhash_lsh"] = f"recall {len(exact & lsh) / len(exact):.2f}"

    jobs = {}
    for name in NEARDUP + VECTOR:
        jobs[f"job.{name}_s"] = statistics.median(p[name] for p in passes)
    spark.stop()
    if args.trace:
        # executor totals of the last timed pass, per job and over all jobs
        last = f"pass{len(passes) - 1}:"

        def last_pass_job(ev) -> str | None:
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            return group.removeprefix(last) if group.startswith(last) else None

        totals = eventlog.task_totals(events, last_pass_job)
        for name, stats in totals.items():
            for k in ("tasks", "cpu_s", "shuffle_mb", "spill_mb"):
                jobs[f"job.{name}.{k}"] = stats[k]
        jobs.update(eventlog.spark_layer(totals.values()))
    print(
        json.dumps(
            {
                "session_s": session_s,
                "neardup_s": [sum(p[n] for n in NEARDUP) for p in passes],
                "vector_s": [sum(p[n] for n in VECTOR) for p in passes],
                "jobs": jobs,
                "failures": failures,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
