"""Direct layer probes for the traced run.

After the workload, every traced run fills a replay backlog and drains
it twice, traced and untraced (streams.replay_probe), then calls single
layers directly over it:

* the ``orion_http`` stream reader: ``latestOffset``, ``partitions`` and
  ``read`` over the filled spool;
* ``streaming.pipelines.example1`` over the same spool read as a static
  DataFrame (parse, flatten, window);
* ``post_partition`` over a fixed set of envelopes against the collector;
* a few registry queries, when the workload ran none.

Metrics the workload measured on its own path are kept; the probes
fill in the rest, so every per-layer metric is reported on every
workload.
"""

from __future__ import annotations

import time

from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
    NOTIFICATION_ROW_SCHEMA,
    OrionHttpStreamReader,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.pipelines import example1
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import post_partition

import batch
import harness as h
import streams

SINK_PROBE_POSTS = 200
PLAN_PROBE_QUERIES = 4


def source_probe(run: h.Run, spool: str) -> None:
    reader = OrionHttpStreamReader(NOTIFICATION_ROW_SCHEMA, {"spool_dir": spool})
    start = reader.initialOffset()
    with run.tracer.span("probe.source.latest_offset"):
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            end = reader.latestOffset()
            times.append(time.perf_counter() - t0)
    with run.tracer.span("probe.source.read"):
        t0 = time.perf_counter()
        parts = reader.partitions(start, end)
        rows = sum(1 for part in parts for _ in reader.read(part))
        read_s = time.perf_counter() - t0
    run.layers["source.latest_offset_probe_ms"] = h.percentile(times, 50) * 1000
    run.layers["source.partitions_per_batch"] = len(parts)
    run.layers["source.read_rows_per_s"] = rows / read_s


def operators_probe(run: h.Run, spark, spool: str) -> None:
    """example1 over the spool as a static DataFrame; the second of two
    runs is reported, so JVM code generation is not in it."""
    static = (
        spark.read.schema("payload string, service string, servicePath string, ts double")
        .json(spool)
        .selectExpr("payload", "service", "servicePath", "timestamp_seconds(ts) AS ts")
    )
    for i in range(2):
        with run.tracer.span("probe.operators.example1", attempt=i):
            t0 = time.perf_counter()
            example1(static).write.format("noop").mode("overwrite").save()
            run.layers["operators.parse_window_s"] = time.perf_counter() - t0


def sink_probe(run: h.Run, collector: h.Collector) -> None:
    rows = [
        {
            "content": '{"temperature_min": { "value":%d.0, "type": "Float"}}' % i,
            "url": f"{collector.base}/v2/entities/Probe{i % 20}/attrs",
            "content_type": "application/json",
            "method": "POST",
        }
        for i in range(SINK_PROBE_POSTS)
    ]
    before = collector.count()
    with run.tracer.span("probe.sink.post_partition"):
        t0 = time.perf_counter()
        post_partition(iter(rows))
        took = time.perf_counter() - t0
    delivered = collector.count() - before
    run.check(delivered == len(rows), f"sink probe: {delivered} of {len(rows)} POSTs arrived")
    run.layers["sink.post_ms_mean"] = took / len(rows) * 1000


def plan_probe(run: h.Run, spark) -> None:
    runner = batch.prepare(run, spark)
    with run.tracer.span("probe.plan"):
        for name in batch.SAMPLE[:PLAN_PROBE_QUERIES]:
            runner.query(name)
    for k, v in runner.layers().items():
        run.layers.setdefault(k, v)
    run.layers.setdefault("plan.oracle_mismatches", 0)


def run_probes(run: h.Run, spark, stack) -> None:
    own_stack = stack is None
    if own_stack:
        stack = streams._Stack(run, spark)
    try:
        with run.tracer.span("probes"):
            if own_stack:  # keep first-query costs out of the stream layers
                stack.warm_up()
            spool = streams.replay_probe(run, stack)
            source_probe(run, spool)
            operators_probe(run, spark, spool)
            sink_probe(run, stack.collector)
            if run.workload != "batch_registry":
                plan_probe(run, spark)
    finally:
        if own_stack:
            stack.close()
