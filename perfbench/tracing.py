"""Spans for the traced run.

A span is ``(name, start_ns, end_ns, parent, request_id)`` on the host's
monotonic clock, so spans from the driver, from Spark's Python workers and
from the harness line up. Spans are kept in memory: driver spans in
``SPANS``, executor spans in a list accumulator that Spark returns to the
driver with each task, and the driver writes them all out at exit.
"""

from __future__ import annotations

import sys
import time

import pyspark.cloudpickle as _cloudpickle
from pyspark.accumulators import AccumulatorParam

SPANS: list[tuple] = []


class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def span_accumulator(sc):
    return sc.accumulator([], _ListParam())


class TimedSink:
    """Wraps a foreachBatch sink: one ``sink.epoch`` span per epoch, with
    the epoch id as request id and the sink's own SinkMetrics beside it."""

    def __init__(self, sink) -> None:
        self.sink = sink
        self.metrics = sink.metrics

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.monotonic_ns()
        self.sink(batch_df, epoch_id)
        SPANS.append(("sink.epoch", t0, time.monotonic_ns(), "pipeline.addbatch", epoch_id))


class TimedClient:
    """PutRecords client that records one ``http.put`` span per call."""

    def __init__(self, client, acc) -> None:
        self.client = client
        self.acc = acc

    def put_records(self, StreamName, Records):
        from pyspark import TaskContext

        t0 = time.monotonic_ns()
        out = self.client.put_records(StreamName=StreamName, Records=Records)
        ctx = TaskContext.get()
        epoch = ctx.getLocalProperty("streaming.sql.batchId") if ctx else None
        self.acc.add([("http.put", t0, time.monotonic_ns(), "sink.epoch", epoch)])
        return out


class TimedFactory:
    """Client factory wrapper; it travels to the executors inside the
    sink's packing closure, and its spans come back in ``acc``."""

    def __init__(self, factory, acc) -> None:
        self.factory = factory
        self.acc = acc

    def __call__(self):
        return TimedClient(self.factory(), self.acc)


_cloudpickle.register_pickle_by_value(sys.modules[__name__])
