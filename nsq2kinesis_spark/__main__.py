"""Runnable pipeline entry point: ``python -m nsq2kinesis_spark``.

Mirrors the reference binary's flag/env wiring (reference main.go:23-34:
-channel/-topic/-nsqd-tcp-address/-stream/-kinesis-endpoint/-test, each
also settable via environment like namsral/flag does) on the Spark
pipeline: NSQ DataSource → forwarding transforms → KinesisSink, with
SIGINT/SIGTERM stopping the query cleanly (main.go:128-140's signal
handler + consumer drain).

Sink selection: ``--spool-dir`` writes a filesystem PutRecords endpoint
(same sink code path, byte-exact KPL records); ``--kinesis-endpoint``
wires boto3 with test-mode static creds (reference main.go:84-92) or,
when boto3 is absent, the stdlib SigV4 HTTP client
(streaming/kinesis_http.py) speaking the same kinesalite wire protocol;
``--test`` creates the stream first (main.go:92-97). Both real-protocol
clients are driven e2e against a live signature-verifying local endpoint
in tests/test_kinesis_http.py.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

__version__ = "0.3.0"


def _env_default(name: str, fallback: str | None = None) -> str | None:
    return os.environ.get(name, fallback)


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="nsq2kinesis_spark",
        description="Forward an NSQ topic to Kinesis via Structured Streaming.",
    )
    p.add_argument("--topic", default=_env_default("TOPIC"), help="NSQ topic (env TOPIC)")
    p.add_argument(
        "--channel",
        default=_env_default("CHANNEL", "nsq2kinesis"),
        help="NSQ channel (env CHANNEL)",
    )
    p.add_argument(
        "--nsqd-tcp-address",
        default=_env_default("NSQD_TCP_ADDRESS", "localhost:4150"),
        help="nsqd TCP endpoint (env NSQD_TCP_ADDRESS)",
    )
    p.add_argument("--stream", default=_env_default("STREAM"), help="Kinesis stream (env STREAM)")
    p.add_argument(
        "--kinesis-endpoint",
        default=_env_default("KINESIS_ENDPOINT"),
        help="Kinesis endpoint override (env KINESIS_ENDPOINT; boto3 when "
        "installed, stdlib SigV4 client otherwise)",
    )
    p.add_argument(
        "--spool-dir",
        default=_env_default("SPOOL_DIR"),
        help="write records to this directory instead of Kinesis (local test sink)",
    )
    p.add_argument(
        "--test",
        action="store_true",
        # parse boolean env values like namsral/flag does — bool() on the
        # raw string would treat TEST=0 / TEST=false as enabled
        default=(_env_default("TEST") or "").lower() in ("1", "true", "yes", "on"),
        help="test mode: create the stream first (boto3) / allow spool sink (env TEST)",
    )
    p.add_argument("--checkpoint-dir", default=_env_default("CHECKPOINT_DIR"))
    p.add_argument(
        "--sketch-table",
        default=_env_default("SKETCH_TABLE"),
        help="append per-micro-batch hourly HLL distinct-message cells to "
        "this parquet table as the stream runs (env SKETCH_TABLE; see "
        "streaming/sketch_maintenance.py). The forwarder never compacts "
        "it: run the one-shot --compact-sketch-table pass from the "
        "deployment's scheduler — the manifest-versioned layout makes it "
        "safe beside the live stream",
    )
    p.add_argument(
        "--compact-sketch-table",
        metavar="PATH",
        default=None,
        help="maintenance mode: re-merge the sketch table's cells per "
        "(day, hour) at a bounded file count (absorbs replay-duplicate "
        "cells, estimate-exact by HLL union algebra), print the stats "
        "and exit — no topic/stream/checkpoint needed; safe to run "
        "beside a live forwarder (atomic manifest swap, concurrent "
        "appends absorbed); exits 1 when PATH holds no table",
    )
    p.add_argument(
        "--compact-target-files",
        type=int,
        default=1,
        help="file-count target for --compact-sketch-table",
    )
    p.add_argument("--epoch-guard-dir", default=None, help="idempotent-replay marker dir")
    p.add_argument("--trigger-interval", default="1 second")
    # requeue policy (reference main.go:66-67 DefaultRequeueDelay + go-nsq
    # MaxAttempts): failed-batch REQ backoff base/cap and the dead-letter cap
    p.add_argument("--requeue-base-ms", type=int, default=None)
    p.add_argument("--requeue-max-ms", type=int, default=None)
    p.add_argument("--max-attempts", type=int, default=None)
    p.add_argument("--cpus", type=int, default=None, help="local[] cores (default: all)")
    p.add_argument("--version", action="store_true", help="show version and exit")
    return p


def reader_options(args: argparse.Namespace) -> dict[str, str]:
    """NSQ DataSource options from parsed flags (all option values are
    strings, the DataSource V2 options contract)."""
    opts = {
        "topic": args.topic,
        "channel": args.channel,
        "nsqd_tcp_address": args.nsqd_tcp_address,
    }
    for opt in ("requeue_base_ms", "requeue_max_ms", "max_attempts"):
        value = getattr(args, opt)
        if value is not None:
            opts[opt] = str(value)
    return opts


def make_client_factory(args: argparse.Namespace):
    """Pick the PutRecords client: spool dir (filesystem fake) or boto3."""
    if args.spool_dir:
        from .streaming.kinesis_sink import SpoolingKinesisClient

        os.makedirs(args.spool_dir, exist_ok=True)
        spool = args.spool_dir
        return lambda: SpoolingKinesisClient(spool)

    endpoint = args.kinesis_endpoint

    # Static test credentials apply only in TEST MODE, exactly like the
    # reference (main.go:84-92 injects static creds iff *testMode); outside
    # test mode boto3's ambient chain (env/profile/instance role) stays in
    # charge, so pointing --kinesis-endpoint at a real VPC endpoint keeps
    # real credentials.
    test_mode = getattr(args, "test", False)
    region = os.environ.get(
        "AWS_REGION", os.environ.get("AWS_DEFAULT_REGION", "us-east-1")
    )
    access_key = os.environ.get("AWS_ACCESS_KEY_ID", "test")
    secret_key = os.environ.get("AWS_SECRET_ACCESS_KEY", "test")
    session_token = os.environ.get("AWS_SESSION_TOKEN")

    # Detect boto3 EAGERLY (factory construction runs at CLI startup), so
    # misconfiguration refuses before the streaming query starts consuming
    # — the sink calls the factory once per micro-batch, so raising inside
    # it would surface as a failed query after the source is already
    # running.
    try:
        import boto3 as _boto3_probe  # noqa: F401  (presence check only)

        have_boto3 = True
    except ImportError:
        have_boto3 = False

    if not have_boto3:
        if not endpoint:
            raise SystemExit(
                "boto3 is required for the default AWS Kinesis endpoint; "
                "use --kinesis-endpoint for a kinesalite-style endpoint or "
                "--spool-dir for a local run"
            )
        # kinesalite-style custom endpoint: the stdlib SigV4 client speaks
        # the same wire protocol, so no boto3 is needed. It has no ambient
        # credential chain, so the same test-mode policy applies: static
        # test creds only under --test; otherwise real env credentials are
        # REQUIRED — silently signing as "test" against a verifying
        # endpoint would surface as an opaque 403 mid-stream.
        env_creds = (
            "AWS_ACCESS_KEY_ID" in os.environ
            and "AWS_SECRET_ACCESS_KEY" in os.environ
        )
        if not test_mode and not env_creds:
            raise SystemExit(
                "no boto3 and no AWS credentials in the environment; "
                "set AWS_ACCESS_KEY_ID/AWS_SECRET_ACCESS_KEY, or use "
                "--test for static test credentials, or --spool-dir"
            )
        # Same eager policy for the region: the credential-scope region is
        # part of the signature, so a silently-defaulted us-east-1 against
        # a regional endpoint signs fine locally and 403s opaquely
        # mid-stream. Outside test mode the region must be explicit.
        if not test_mode and not (
            "AWS_REGION" in os.environ or "AWS_DEFAULT_REGION" in os.environ
        ):
            raise SystemExit(
                "no boto3 and no AWS region in the environment; set "
                "AWS_REGION (it is signed into the SigV4 credential scope), "
                "or use --test / --spool-dir"
            )

        def http_factory():
            from .streaming.kinesis_http import HttpKinesisClient

            return HttpKinesisClient(
                endpoint_url=endpoint,
                region=region,
                access_key=access_key,
                secret_key=secret_key,
                session_token=session_token,
            )

        return http_factory

    def real_endpoint_factory():
        import boto3

        if endpoint and test_mode:
            return boto3.client(
                "kinesis",
                endpoint_url=endpoint,
                region_name=region,
                aws_access_key_id=access_key,
                aws_secret_access_key=secret_key,
            )
        kwargs = {"endpoint_url": endpoint} if endpoint else {}
        return boto3.client("kinesis", **kwargs)

    return real_endpoint_factory


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    if args.version:
        print(f"nsq2kinesis_spark {__version__}")
        return 0
    if args.compact_sketch_table:
        # maintenance mode: one batch job, no streaming wiring — mirrors
        # how an operator runs the pass on a cron beside the forwarder
        import json as _json

        from .session import get_spark
        from .streaming.sketch_maintenance import compact_sketch_table

        spark = get_spark(app_name="nsq2kinesis_sketch_compact", cpus=args.cpus)
        try:
            stats = compact_sketch_table(
                spark, args.compact_sketch_table, args.compact_target_files
            )
        except FileNotFoundError as exc:  # no table at that path
            print(exc, file=sys.stderr)
            return 1
        finally:
            spark.stop()
        print(_json.dumps({"compacted": args.compact_sketch_table, **stats}))
        return 0
    if not args.topic or not args.stream:
        # reference main.go:55-58: both are mandatory
        print("You must specify a Kinesis stream name and NSQ topic", file=sys.stderr)
        return 1
    if not args.checkpoint_dir:
        print("You must specify --checkpoint-dir (env CHECKPOINT_DIR)", file=sys.stderr)
        return 1

    from .observability import attach_metrics_listener, log_event
    from .session import get_spark
    from .sources.nsq import NsqDataSource
    from .streaming.kinesis_sink import KinesisSink
    from .streaming.pipeline import PipelineConfig, build_pipeline

    spark = get_spark(app_name="nsq2kinesis_spark", cpus=args.cpus)
    spark.dataSource.register(NsqDataSource)
    # per-micro-batch structured progress events (rates, forward counters,
    # watermark drops) — the reference's zerolog operational surface
    attach_metrics_listener(spark)
    log_event(
        "cli",
        "starting",
        topic=args.topic,
        channel=args.channel,
        nsqd=args.nsqd_tcp_address,
        stream=args.stream,
    )

    if args.test and not args.spool_dir:
        # reference main.go:92-97: test mode pre-creates the stream
        try:
            make_client_factory(args)().create_stream(StreamName=args.stream, ShardCount=1)
        except Exception as exc:  # stream may already exist
            print(f"stream creation: {exc}", file=sys.stderr)

    source = spark.readStream.format("nsq").options(**reader_options(args)).load()

    sink = KinesisSink(
        stream=args.stream,
        client_factory=make_client_factory(args),
        epoch_guard_dir=args.epoch_guard_dir,
    )
    query = build_pipeline(
        source,
        sink,
        PipelineConfig(
            checkpoint_dir=args.checkpoint_dir,
            trigger_processing_time=args.trigger_interval,
            sketch_table=args.sketch_table,
        ),
    )

    # reference main.go:128-140: stop the consumer on signal. The handler
    # must not talk to the JVM itself — py4j's gateway stream is not
    # reentrant, and the signal can land mid-call — so it only records the
    # request; the wait loop below performs the actual stop. query.stop()
    # halts the trigger loop, and un-FINned in-flight messages redeliver on
    # the next incarnation (at-least-once preserved).
    stop_signal: list[int] = []
    signal.signal(signal.SIGINT, lambda signum, _f: stop_signal.append(signum))
    signal.signal(signal.SIGTERM, lambda signum, _f: stop_signal.append(signum))
    print(f"forwarding nsq://{args.nsqd_tcp_address}/{args.topic}#{args.channel} "
          f"-> kinesis:{args.stream} (checkpoint {args.checkpoint_dir})")
    while not query.awaitTermination(timeout=1):
        if stop_signal:
            print(f"Shutting down on signal {stop_signal[0]}", file=sys.stderr)
            query.stop()
            query.awaitTermination()
            break
    return 0


if __name__ == "__main__":
    sys.exit(main())
