"""SparkSession construction tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster where it matters
(AQE, shuffle partitions sized to parallelism, Arrow for the Python edge);
cluster-only knobs (executor memory/cores, dynamic allocation) are left to
spark-submit so the same code runs unchanged on a 1000-executor cluster.

Nothing here ships engine code to Spark's Python processes: the package
registers itself for by-value pickling (``nsq2kinesis_spark/__init__.py``),
so every DataSource, closure and class it hands to Spark carries its own
code, on any session, including one the caller built before the package
was importable. No ``--py-files`` is needed for the engine.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nsq2kinesis_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else all
    cores. ``shuffle_partitions`` defaults to 2× cpus locally — on a real
    cluster you'd size this to cluster parallelism; AQE coalesces down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the exchanges INSIDE persisted plans too
        # (default false in Spark 4 only to keep cached output
        # partitioning stable for consumers that depend on it — none
        # here do). Without it every .persist() materializes at the full
        # static shuffle-partition count and every downstream stage over
        # the cache pays that task count regardless of size: the q106
        # ANN lane (one persisted profile + one persisted signature
        # table, ~15 consumers) measured 15.2 s -> 4.5 s at sf0.1 with
        # this on (same-session interleaved A/B, min-of-3); q133/q78,
        # which read persisted postings/signatures, -4.5% each; nothing
        # regressed (optimization round 14). Scale-adaptive by
        # construction: AQE sizes by bytes, so production-sized caches
        # keep their parallelism.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if rocksdb_state_store:
        # Production streaming-state default: RocksDB spills keyed state to
        # local disk with incremental checkpoints — the in-memory (HDFS)
        # provider requires all state to fit on-heap, which the reference's
        # unbounded dedup key space would eventually blow past
        # (deduper.go:19-20 has the same all-in-RAM limitation).
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Optional comma-list of k=v session confs from the environment —
    # sets STATIC confs (e.g. spark.io.compression.codec, which cannot be
    # set after session build) for a deployment or a measurement without
    # code edits. Empty/absent = no-op. Applied LAST, so the env
    # OVERRIDES an explicit extra_conf entry on conflict — deliberate:
    # whoever launches the process owns its confs. Because the hook
    # fires for every get_spark caller (tests, verification driver),
    # each applied pair is logged to stderr so a stray SPARK_GRAFT_CONF
    # left in the environment can't silently change engine confs under
    # a parity run.
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(","):
        if kv.strip():
            k, _, v = kv.partition("=")
            print(
                f"[nsq2kinesis_spark] SPARK_GRAFT_CONF applied: "
                f"{k.strip()}={v.strip()}",
                file=sys.stderr,
            )
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> None:
    """Runtime-settable configs every query builder relies on.

    Called from the table loader so correctness holds even when the caller
    (e.g. the verification driver) built its own SparkSession: the DuckDB
    oracle reads parquet timestamps as naive-UTC, so the Spark session must
    interpret them in UTC too.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Pin ANSI arithmetic ON (the Spark 4 default, but a hostile session
    # could disable it): decimal(38,0) overflow in the wide-lane moment
    # queries (q114/q119/q120, q106 widen mode) must RAISE like DuckDB's
    # HUGEINT does — non-ANSI would return NULL and silently drop rows at
    # the (unreachable) ~1e38 boundary.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    # events.parquet stores TIMESTAMP(NANOS): Spark has no nanosecond
    # timestamp type, so read as raw int64 nanos and truncate to micros in
    # the loader (tables.table). The DuckDB oracles mirror the truncation
    # with CAST(ts AS TIMESTAMP) (ns→µs cast truncates in DuckDB).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
