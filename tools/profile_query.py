"""Per-stage profiler for one or more benched queries (guide §1/§7).

Usage: python tools/profile_query.py <query> [query ...]

Runs each query the way bench.py does (warmup pass, then one timed pass to
the noop sink) with the Spark event log enabled, then parses the event log
and prints, per job/stage: duration, task count, shuffle read/write bytes,
spill, and the dominant time component — so optimization work targets the
stage that actually costs, not the one that looks expensive in the plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from nsq2kinesis_spark.registry import all_queries  # noqa: E402
from nsq2kinesis_spark.session import get_spark  # noqa: E402


def build(spark, name, sf_dir):
    if name == "shared_shingle_postings":
        from nsq2kinesis_spark.operators.llm_dedup import shared_postings

        return shared_postings(spark, sf_dir)
    if name == "q106_ann_lane":
        from nsq2kinesis_spark.operators.similarity import ann_user_similarity

        return ann_user_similarity(spark, sf_dir)
    return all_queries()[name].builder(spark, sf_dir)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = "/tmp/spark-events"
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    app_id = spark.sparkContext.applicationId

    def run(name):
        build(spark, name, sf_dir).write.format("noop").mode("overwrite").save()

    # warmup (bench methodology)
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        run(name)
    marks = {}
    for name in names:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"timed:{name}")
        t0 = time.perf_counter()
        run(name)
        marks[name] = round(time.perf_counter() - t0, 3)
    spark.stop()

    # parse the event log (Spark 4 may write a rolling dir: eventlog_v2_<app>/)
    path = os.path.join(log_dir, app_id)
    def read_any(p):
        if p.endswith(".zstd"):
            import zstandard

            with open(p, "rb") as fh:
                data = zstandard.ZstdDecompressor().stream_reader(fh).read()
            return data.decode().splitlines()
        with open(p) as fh:
            return fh.readlines()

    if not os.path.exists(path):
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        cands = [
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.startswith("events_")
        ]
        if not cands:
            sys.exit(f"no events_* file in event-log dir {d}")
        # report the files actually parsed, not just the directory
        # (r14 ADVICE: with multiple rolling files the dir name alone
        # under-describes what the numbers came from)
        path = cands[0] if len(cands) == 1 else f"{d} ({len(cands)} files: " + ", ".join(
            os.path.basename(c) for c in cands
        ) + ")"
        lines = []
        for c in cands:
            lines.extend(read_any(c))
    else:
        lines = read_any(path)
    jobs = {}  # job_id -> {desc, stages: [ids]}
    stages = {}  # stage_id -> accumulated metrics
    if True:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                ops = []
                for r in si.get("RDD Info", []):
                    scope = r.get("Scope")
                    if scope:
                        nm = json.loads(scope).get("name", "")
                        if nm and nm not in ops:
                            ops.append(nm)
                st = stages.setdefault(sid, {})
                st.update(
                    {
                        "ops": ",".join(ops)[:120],
                        "tasks": si["Number of Tasks"],
                        "wall_ms": (com - sub) if sub and com else None,
                    }
                )
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                # failed/killed attempts would inflate run/cpu/shuffle
                # sums for stages with retries (r14 ADVICE)
                ti = ev.get("Task Info", {})
                if ti.get("Failed") or ti.get("Killed"):
                    continue
                accs = {
                    a["Name"]: a.get("Update", 0)
                    for a in ti.get("Accumulables", [])
                    if a.get("Internal")
                }
                g = lambda n: accs.get(f"internal.metrics.{n}", 0)  # noqa: E731
                agg = stages.setdefault(sid, {})
                for key, val in (
                    ("run_ms", g("executorRunTime")),
                    ("cpu_ms", g("executorCpuTime") / 1e6),
                    ("gc_ms", g("jvmGCTime")),
                    (
                        "sh_read_mb",
                        (
                            g("shuffle.read.remoteBytesRead")
                            + g("shuffle.read.localBytesRead")
                        )
                        / 1e6,
                    ),
                    ("fetch_wait_ms", g("shuffle.read.fetchWaitTime")),
                    ("sh_write_mb", g("shuffle.write.bytesWritten") / 1e6),
                    ("spill_mb", g("memoryBytesSpilled") / 1e6),
                    ("result_ser_ms", g("resultSerializationTime")),
                    ("deser_ms", g("executorDeserializeTime")),
                ):
                    agg[key] = agg.get(key, 0) + val

    for jid in sorted(jobs):
        j = jobs[jid]
        if not j["desc"].startswith("timed:"):
            continue
        total_wall = sum(
            (stages.get(s, {}).get("wall_ms") or 0) for s in j["stages"] if s in stages
        )
        print(f"\n== job {jid} [{j['desc']}] stages_wall_sum={total_wall}ms")
        for s in sorted(j["stages"]):
            st = stages.get(s)
            if not st or "wall_ms" not in st or st.get("wall_ms") is None:
                continue  # skipped stage (reused exchange)
            print(
                f"  stage {s:4d} wall={st['wall_ms']:6.0f}ms tasks={st.get('tasks', 0):3d} "
                f"run={st.get('run_ms', 0):7.0f} cpu={st.get('cpu_ms', 0):7.0f} "
                f"gc={st.get('gc_ms', 0):5.0f} deser={st.get('deser_ms', 0):5.0f} "
                f"shR={st.get('sh_read_mb', 0):7.2f}MB fw={st.get('fetch_wait_ms', 0):4.0f} "
                f"shW={st.get('sh_write_mb', 0):7.2f}MB spill={st.get('spill_mb', 0):6.1f}MB "
                f"| {st.get('ops', '')}"
            )
    print("\nwall-clock per timed query:", json.dumps(marks))
    print("event log:", path)


if __name__ == "__main__":
    main()
