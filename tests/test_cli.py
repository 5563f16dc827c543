"""CLI entry-point tests: ``python -m nsq2kinesis_spark`` wires flags/env
to the full pipeline (reference main.go:23-34, 80-97) and shuts down
cleanly on SIGTERM (main.go:128-140)."""

from __future__ import annotations

import os
import signal
import subprocess

import pytest
import sys
import time

from nsq2kinesis_spark.__main__ import build_arg_parser, main

from .fake_nsqd import FakeNsqd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_version_and_flag_validation(capsys):
    assert main(["--version"]) == 0
    assert "nsq2kinesis_spark" in capsys.readouterr().out
    # stream + topic are mandatory (reference main.go:55-58)
    assert main(["--topic", "t"]) == 1
    assert main(["--stream", "s"]) == 1
    assert main(["--topic", "t", "--stream", "s"]) == 1  # no checkpoint dir
    # the forwarder never compacts its sketch table: --compact-sketch-table
    # is the one compaction pass
    for flag, value in (("--compact-sketch-every", "600"), ("--compact-sketch-async", "5")):
        with pytest.raises(SystemExit):
            build_arg_parser().parse_args(["--sketch-table", "x", flag, value])
    capsys.readouterr()


def test_env_fallbacks(monkeypatch):
    monkeypatch.setenv("TOPIC", "envtopic")
    monkeypatch.setenv("STREAM", "envstream")
    monkeypatch.setenv("NSQD_TCP_ADDRESS", "h:1")
    args = build_arg_parser().parse_args([])
    assert (args.topic, args.stream, args.nsqd_tcp_address) == (
        "envtopic",
        "envstream",
        "h:1",
    )
    # TEST parses boolean values (namsral/flag semantics): falsy spellings
    # must NOT enable test mode
    for val, expected in (("1", True), ("true", True), ("0", False), ("false", False), ("no", False)):
        monkeypatch.setenv("TEST", val)
        assert build_arg_parser().parse_args([]).test is expected, val


def test_reader_options_from_flags():
    """Requeue-policy flags flow into the NSQ DataSource options
    (stringly, per the DataSource V2 contract); unset flags leave the
    source's own defaults in charge."""
    from nsq2kinesis_spark.__main__ import reader_options

    args = build_arg_parser().parse_args(
        ["--topic", "t", "--stream", "s", "--checkpoint-dir", "c",
         "--requeue-base-ms", "500", "--max-attempts", "7"]
    )
    opts = reader_options(args)
    assert opts["requeue_base_ms"] == "500"
    assert opts["max_attempts"] == "7"
    assert "requeue_max_ms" not in opts  # unset → source default

    plain = reader_options(
        build_arg_parser().parse_args(["--topic", "t", "--stream", "s", "--checkpoint-dir", "c"])
    )
    assert plain == {"topic": "t", "channel": "nsq2kinesis",
                     "nsqd_tcp_address": "localhost:4150"}


def test_boto3_factory_wiring(monkeypatch):
    """The real-Kinesis branch executed via an injected stand-in module:
    a custom endpoint is reference TEST MODE (main.go:84-92), so the
    factory must configure boto3 with the endpoint override PLUS static
    test credentials and a pinned region (env-overridable) — the live
    boto3-against-endpoint run is tests/test_kinesis_http.py."""
    import types

    from nsq2kinesis_spark.__main__ import make_client_factory

    calls: list[tuple[str, dict]] = []
    fake = types.ModuleType("boto3")
    fake.client = lambda svc, **kw: (calls.append((svc, kw)), "CLIENT")[-1]
    monkeypatch.setitem(sys.modules, "boto3", fake)
    for var in (
        "AWS_REGION",
        "AWS_DEFAULT_REGION",
        "AWS_ACCESS_KEY_ID",
        "AWS_SECRET_ACCESS_KEY",
    ):
        monkeypatch.delenv(var, raising=False)

    # test mode (reference main.go:84-92): static creds + pinned region
    args = build_arg_parser().parse_args(
        ["--topic", "t", "--stream", "s", "--checkpoint-dir", "c",
         "--kinesis-endpoint", "http://localhost:4567", "--test"]
    )
    assert make_client_factory(args)() == "CLIENT"
    assert calls == [
        (
            "kinesis",
            {
                "endpoint_url": "http://localhost:4567",
                "region_name": "us-east-1",
                "aws_access_key_id": "test",
                "aws_secret_access_key": "test",
            },
        )
    ]
    # outside test mode the ambient boto3 credential chain stays in charge
    calls.clear()
    args = build_arg_parser().parse_args(
        ["--topic", "t", "--stream", "s", "--checkpoint-dir", "c",
         "--kinesis-endpoint", "http://localhost:4567"]
    )
    assert make_client_factory(args)() == "CLIENT"
    assert calls == [("kinesis", {"endpoint_url": "http://localhost:4567"})]

    # no endpoint override → default client, no kwargs (real AWS wiring)
    calls.clear()
    args2 = build_arg_parser().parse_args(
        ["--topic", "t", "--stream", "s", "--checkpoint-dir", "c"]
    )
    assert make_client_factory(args2)() == "CLIENT"
    assert calls == [("kinesis", {})]


def test_boto3_missing_is_a_clean_exit(monkeypatch):
    """Without boto3 and without --spool-dir, the factory fails with an
    actionable SystemExit instead of a raw ImportError."""
    from nsq2kinesis_spark.__main__ import make_client_factory

    monkeypatch.setitem(sys.modules, "boto3", None)  # forces ImportError
    args = build_arg_parser().parse_args(
        ["--topic", "t", "--stream", "s", "--checkpoint-dir", "c"]
    )
    with pytest.raises(SystemExit, match="spool-dir"):
        make_client_factory(args)()


@pytest.mark.slow
def test_cli_end_to_end_sigterm_drain(tmp_path):
    """Full subprocess e2e: module entry consumes a live fake nsqd into a
    spool sink, then exits 0 on SIGTERM with every body delivered."""
    bodies = {f"{i:016d}": f"cli-{i}".encode() for i in range(15)}
    nsqd = FakeNsqd(list(bodies.items()))
    nsqd.start()
    spool = tmp_path / "spool"
    # log to a file, not a PIPE: nobody drains a pipe while we wait, and a
    # full pipe buffer would deadlock the JVM mid-shutdown
    log_path = tmp_path / "cli.log"
    log_fh = open(log_path, "wb")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "nsq2kinesis_spark",
            "--topic", "t",
            "--channel", "c",
            "--nsqd-tcp-address", nsqd.addr,
            "--stream", "s",
            "--spool-dir", str(spool),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--trigger-interval", "500 milliseconds",
            "--cpus", "4",
        ],
        cwd=REPO_ROOT,
        stdout=log_fh,
        stderr=subprocess.STDOUT,
    )
    try:
        from nsq2kinesis_spark.streaming.kinesis_sink import read_spool
        from nsq2kinesis_spark.streaming.sketch_maintenance import read_sketch_table
        from nsq2kinesis_spark.streaming.kpl import deaggregate, is_aggregated

        def spool_bodies() -> set[bytes]:
            if not spool.exists():
                return set()
            got: set[bytes] = set()
            for _pk, data in read_spool(str(spool)):
                got.update(
                    d for _, d in deaggregate(data)
                ) if is_aggregated(data) else got.add(data)
            return got

        deadline = time.time() + 120
        while time.time() < deadline and spool_bodies() != set(bodies.values()):
            assert proc.poll() is None, log_path.read_text(errors="replace")
            time.sleep(1)
        assert spool_bodies() == set(bodies.values())

        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=60)
        assert rc == 0, log_path.read_text(errors="replace")
    finally:
        if proc.poll() is None:
            proc.kill()
        log_fh.close()
        nsqd.stop()


def test_cli_sketch_table_flag_end_to_end(spark, tmp_path):
    """Round-9 stretch (r8 verdict #8): the closed loop exposed at the
    CLI. ``--sketch-table`` wires PipelineConfig.sketch_table, so a plain
    ``python -m nsq2kinesis_spark`` run maintains the hourly HLL table AS
    IT FORWARDS; afterwards the ISO-week distinct-message rollup is
    answered from the table alone and matches the distinct body count
    (exact at this cardinality). Delivery is asserted too — maintenance
    wraps the sink, it must not displace it."""
    bodies = {f"{i:016d}": f"sk-{i}".encode() for i in range(12)}
    nsqd = FakeNsqd(list(bodies.items()))
    nsqd.start()
    spool = tmp_path / "spool"
    table = tmp_path / "sketches"
    log_path = tmp_path / "cli.log"
    log_fh = open(log_path, "wb")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "nsq2kinesis_spark",
            "--topic", "t",
            "--channel", "c",
            "--nsqd-tcp-address", nsqd.addr,
            "--stream", "s",
            "--spool-dir", str(spool),
            "--sketch-table", str(table),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--trigger-interval", "500 milliseconds",
            "--cpus", "4",
        ],
        cwd=REPO_ROOT,
        stdout=log_fh,
        stderr=subprocess.STDOUT,
    )
    try:
        from nsq2kinesis_spark.streaming.kinesis_sink import read_spool
        from nsq2kinesis_spark.streaming.sketch_maintenance import read_sketch_table

        def delivered() -> int:
            return len(list(read_spool(str(spool)))) if spool.exists() else 0

        def cells() -> int:
            try:
                return read_sketch_table(spark, str(table)).count()
            except Exception:
                return 0

        deadline = time.time() + 120
        while time.time() < deadline and not (delivered() > 0 and cells() > 0):
            assert proc.poll() is None, log_path.read_text(errors="replace")
            time.sleep(1)
        assert delivered() > 0, "sink must still deliver with maintenance on"
        assert cells() > 0, "sketch table never materialized"
        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=60)
        assert rc == 0, log_path.read_text(errors="replace")
    finally:
        if proc.poll() is None:
            proc.kill()
        log_fh.close()
        nsqd.stop()

    from nsq2kinesis_spark.streaming.sketch_maintenance import (
        read_sketch_table,
        week_rollup,
    )

    tbl = read_sketch_table(spark, str(table))
    assert set(tbl.columns) == {"day", "hour", "sk"}
    rollup = week_rollup(tbl).collect()
    # 12 distinct bodies, all delivered within one run: the rollup from
    # the table ALONE answers the distinct count (HLL exact at n=12,
    # replayed epochs idempotent)
    assert sum(r.approx_distinct for r in rollup) == len(bodies)

    # ...and the maintenance subcommand compacts the table from the same
    # CLI, exits 0, prints stats JSON, and leaves the rollup untouched
    import json as _json

    out = subprocess.run(
        [sys.executable, "-m", "nsq2kinesis_spark",
         "--compact-sketch-table", str(table), "--cpus", "4"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = _json.loads(out.stdout.strip().splitlines()[-1])
    assert stats["files_after"] <= 1
    assert stats["cells_after"] <= stats["cells_before"]
    after = week_rollup(read_sketch_table(spark, str(table))).collect()
    assert sum(r.approx_distinct for r in after) == len(bodies)


@pytest.mark.slow
@pytest.mark.timeout(180)
def test_compact_sketch_table_refuses_a_path_with_no_table(tmp_path):
    """A mistyped --compact-sketch-table path exits non-zero, names the
    path on stderr and creates nothing there."""
    missing = tmp_path / "no-such-table"
    out = subprocess.run(
        [sys.executable, "-m", "nsq2kinesis_spark",
         "--compact-sketch-table", str(missing), "--cpus", "1"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=150,
    )
    assert out.returncode != 0
    assert str(missing) in out.stderr
    assert not missing.exists()


def test_http_client_path_requires_explicit_region(monkeypatch):
    """boto3-less + real (non-test) endpoint: a silently-defaulted region
    signs a wrong credential scope and 403s mid-stream, so the factory must
    refuse eagerly when no AWS_REGION/AWS_DEFAULT_REGION is set — the same
    policy as the missing-credentials check."""
    from nsq2kinesis_spark.__main__ import make_client_factory

    monkeypatch.setitem(sys.modules, "boto3", None)
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKID")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "SECRET")
    monkeypatch.delenv("AWS_REGION", raising=False)
    monkeypatch.delenv("AWS_DEFAULT_REGION", raising=False)
    args = build_arg_parser().parse_args(
        [
            "--topic", "t", "--stream", "s", "--checkpoint-dir", "c",
            "--kinesis-endpoint", "http://127.0.0.1:4567",
        ]
    )
    with pytest.raises(SystemExit, match="region"):
        make_client_factory(args)
    # explicit region unblocks it
    monkeypatch.setenv("AWS_REGION", "eu-west-1")
    factory = make_client_factory(args)
    assert factory().region == "eu-west-1"
