"""Every metric the benchmark prints: unit, direction, and for per-layer
metrics the layer they measure and the end-to-end metric they should move.
BENCHMARK.json lists the ones that every listed workload measures
(README.md says why not the others); report.py prints this table beside a
traced run."""

from __future__ import annotations

# name: (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "fwd_p50_ms": ("ms", "lower"),
    "fwd_p90_ms": ("ms", "lower"),
    "fwd_p99_ms": ("ms", "lower"),
    "drain_recs_per_s": ("rec/s", "higher"),
    "neardup_s": ("s", "lower"),
    "vector_s": ("s", "lower"),
}

S = "forward_small"
# name: (unit, better, layer, target end-to-end metric and workload)
PER_LAYER = {
    "nsq.read_lag_ms.p50": ("ms", "lower", "sources.nsq", f"fwd_p50_ms on {S}"),
    "nsq.read_lag_ms.p99": ("ms", "lower", "sources.nsq", f"fwd_p90_ms on {S}"),
    "nsq.backlog_max": ("count", "lower", "sources.nsq", f"drain_recs_per_s on {S}"),
    "nsq.cmds_per_msg": ("ratio", "lower", "sources.nsq", f"drain_recs_per_s on {S}"),
    "nsq.ack_lag_ms.p50": ("ms", "lower", "sources.nsq", f"drain_recs_per_s, failed_frac on {S}"),
    "nsq.redeliveries": ("count", "lower", "sources.nsq", f"drain_recs_per_s, failed_frac on {S}"),
    "nsq.useful_delivery_ratio": ("ratio", "higher", "sources.nsq", f"drain_recs_per_s on {S}"),
    "nsq.connections": ("count", "lower", "sources.nsq", "-"),
    "pipeline.trigger_ms.p50": ("ms", "lower", "streaming.pipeline", f"fwd_p50_ms on {S}"),
    "pipeline.trigger_ms.p99": ("ms", "lower", "streaming.pipeline", f"fwd_p90_ms on {S}"),
    "pipeline.source_ms.p50": ("ms", "lower", "streaming.pipeline", f"fwd_p50_ms on {S}"),
    "pipeline.checkpoint_ms.p50": ("ms", "lower", "streaming.pipeline", f"fwd_p50_ms on {S}"),
    "pipeline.addbatch_ms.p50": ("ms", "lower", "streaming.pipeline", f"drain_recs_per_s on {S}"),
    "pipeline.state_rows.max": ("count", "lower", "streaming.pipeline", f"drain_recs_per_s on {S}"),
    "pipeline.state_bytes.max": ("B", "lower", "streaming.pipeline", f"drain_recs_per_s on {S}"),
    "pipeline.batches": ("count", "lower", "streaming.pipeline", "-"),
    "pipeline.rows_per_batch.p50": ("count", "higher", "streaming.pipeline", "-"),
    "pipeline.dedup_dropped": ("count", "higher", "streaming.pipeline", "failed_frac"),
    "sink.epoch_ms.p50": ("ms", "lower", "streaming.kinesis_sink", f"drain_recs_per_s on {S}"),
    "sink.epoch_ms.p99": ("ms", "lower", "streaming.kinesis_sink", f"drain_recs_per_s on {S}"),
    "sink.recs_per_entry": ("ratio", "higher", "streaming.kinesis_sink", f"drain_recs_per_s on {S}"),
    "sink.entries_per_call": ("ratio", "higher", "streaming.kinesis_sink", f"drain_recs_per_s on {S}"),
    "sink.calls": ("count", "lower", "streaming.kinesis_sink", "-"),
    "sink.retried": ("count", "lower", "streaming.kinesis_sink", "-"),
    "sink.oversize_dropped": ("count", "lower", "streaming.kinesis_sink", "-"),
    "kpl.put_us_per_rec": ("us", "lower", "streaming.kpl", f"drain_recs_per_s on {S}"),
    "kpl.encode_mb_per_s": ("MB/s", "higher", "streaming.kpl", f"drain_recs_per_s on {S}"),
    "http.put_ms.p50": ("ms", "lower", "streaming.kinesis_http", f"drain_recs_per_s on {S}"),
    "http.put_ms.p99": ("ms", "lower", "streaming.kinesis_http", f"drain_recs_per_s on {S}"),
    "http.wire_bytes_per_payload_byte": ("ratio", "lower", "streaming.kinesis_http", f"drain_recs_per_s on {S}"),
    "http.endpoint_ms.p50": ("ms", "lower", "harness", "none: must stay far below http.put_ms.p50"),
    "session.start_s": ("s", "lower", "session", "setup_s"),
    "pipeline.start_s": ("s", "lower", "session", "setup_s"),
    "session.peak_rss_mb": ("MB", "lower", "session", "-"),
    "gen.late_ms.p99": ("ms", "lower", "harness", "none: must stay small"),
    "gen.offered_rate": ("msg/s", "higher", "harness", "none: must match the fixed rate"),
    "self.pipeline_ms": ("ms", "lower", "streaming.pipeline", "self time per data batch"),
    "self.sink_ms": ("ms", "lower", "streaming.kinesis_sink", "self time per data batch"),
    "self.http_ms": ("ms", "lower", "streaming.kinesis_http", "self time per data batch"),
    "self.endpoint_ms": ("ms", "lower", "harness", "self time per data batch"),
    "trace.setup_s": ("s", "lower", "tracing", "setup_s, traced"),
    "trace.fwd_p50_ms": ("ms", "lower", "tracing", "fwd_p50_ms, traced"),
    "trace.fwd_p90_ms": ("ms", "lower", "tracing", "fwd_p90_ms, traced"),
    "trace.fwd_p99_ms": ("ms", "lower", "tracing", "fwd_p99_ms, traced"),
    "trace.drain_recs_per_s": ("rec/s", "higher", "tracing", "drain_recs_per_s, traced"),
}

# JVM executor totals from the traced run's event log: the jobs after the
# first trigger on forward_small, the last timed pass on llm_corpus
_WORK = f"drain_recs_per_s on {S}; neardup_s, vector_s on llm_corpus"
PER_LAYER.update({
    "spark.cpu_s": ("s", "lower", "spark.executor", _WORK),
    "spark.run_s": ("s", "lower", "spark.executor", _WORK),
    "spark.shuffle_mb": ("MB", "lower", "spark.executor", _WORK),
})

# per-layer metrics of llm_corpus (operators.llm_dedup / operators.similarity)
JOBS = ("postings", "q75_neardup_jaccard", "q76_neardup_minhash_lsh", "q78_simhash_pairs",
        "q80_cosine_topk", "q82_ann_ivf")
for _job in JOBS:
    _layer = "operators.similarity" if _job in ("q80_cosine_topk", "q82_ann_ivf") else "operators.llm_dedup"
    _target = "vector_s" if _layer == "operators.similarity" else "neardup_s"
    for _suffix, _unit in (("_s", "s"), (".tasks", "count"), (".cpu_s", "s"),
                           (".shuffle_mb", "MB"), (".spill_mb", "MB")):
        PER_LAYER[f"job.{_job}{_suffix}"] = (_unit, "lower", _layer, f"{_target} on llm_corpus")
for _name in ("neardup_s", "vector_s"):
    PER_LAYER[f"trace.{_name}"] = ("s", "lower", "tracing", f"{_name}, traced")


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name][0]
    return PER_LAYER[name][0]
