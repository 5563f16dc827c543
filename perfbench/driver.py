"""Spark driver of the forwarding workloads, run as its own process.

Starts the forwarder the way ``python -m nsq2kinesis_spark --partitioned``
does, through the engine's public functions only: ``get_spark``, the
``NsqDataSource``, ``KinesisSink`` with an ``HttpKinesisClient`` factory,
and ``build_pipeline`` with a ``PipelineConfig``. Once the first trigger
has completed it prints one JSON line with its set-up times, then waits
for ``stop`` on stdin, stops the query and exits.

With ``--trace`` it wraps the sink and the client factory in timing
wrappers (tracing.py), writes a Spark event log to ``<workdir>/events``,
and at exit writes the spans, the query's progress reports, the sink's
metrics and the wall time of the first trigger to ``<workdir>/trace.json``.

Usage: python3 driver.py --nsqd HOST:PORT --endpoint URL --workdir DIR
       --access-key K --secret-key S --started WALL_S [--cpus N] [--trace]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--nsqd", required=True)
    p.add_argument("--endpoint", required=True)
    p.add_argument("--workdir", required=True)
    p.add_argument("--access-key", required=True)
    p.add_argument("--secret-key", required=True)
    p.add_argument("--started", type=float, required=True, help="wall time the process was launched")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)

    from nsq2kinesis_spark.session import get_spark
    from nsq2kinesis_spark.sources.nsq import NsqDataSource
    from nsq2kinesis_spark.streaming.kinesis_http import HttpKinesisClient
    from nsq2kinesis_spark.streaming.kinesis_sink import KinesisSink
    from nsq2kinesis_spark.streaming.pipeline import PipelineConfig, build_pipeline

    import workloads

    local = os.path.join(args.workdir, "spark-local")
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if args.trace:
        events = os.path.join(args.workdir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench_forward", cpus=args.cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    spark.dataSource.register(NsqDataSource)

    endpoint, access, secret = args.endpoint, args.access_key, args.secret_key

    def client_factory():
        return HttpKinesisClient(endpoint_url=endpoint, access_key=access, secret_key=secret)

    acc = None
    if args.trace:
        import tracing

        acc = tracing.span_accumulator(spark.sparkContext)
        factory = tracing.TimedFactory(client_factory, acc)
    else:
        factory = client_factory
    sink = KinesisSink(stream="perfbench", client_factory=factory)
    source = (
        spark.readStream.format("nsq")
        .options(topic="perfbench", channel="nsq2kinesis", nsqd_tcp_address=args.nsqd)
        .options(**workloads.READER)
        .load()
    )
    t_pipeline = time.time()
    query = build_pipeline(
        source,
        tracing.TimedSink(sink) if args.trace else sink,
        PipelineConfig(
            checkpoint_dir=os.path.join(args.workdir, "checkpoint"),
            trigger_processing_time=workloads.TRIGGER,
        ),
    )
    while query.lastProgress is None:
        if not query.isActive:
            raise RuntimeError(f"query died before its first trigger: {query.exception()}")
        time.sleep(0.02)
    t_ready = time.time()
    print(
        json.dumps(
            {
                "session_s": t_session - args.started,
                "pipeline_s": t_ready - t_pipeline,
                "setup_s": t_ready - args.started,
            }
        ),
        flush=True,
    )
    sys.stdin.readline()  # "stop", or EOF when the orchestrator goes away
    query.stop()
    if args.trace:
        out = {
            "spans": tracing.SPANS + list(acc.value),
            "progress": [json.loads(pr.json) for pr in query.recentProgress],
            "sink_metrics": [vars(m) for m in sink.metrics],
            "ready_ms": t_ready * 1000,
        }
        with open(os.path.join(args.workdir, "trace.json"), "w") as fh:
            json.dump(out, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
