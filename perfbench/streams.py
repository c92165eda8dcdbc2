"""The streaming path: the ``live_flat`` workload and the backlog
replay that traced runs use as a probe.

Both run the Example2 job: the ``orion_http`` source over the
receiver's spool -> ``streaming_window_min`` (5 s / 2 s keyed sliding
min) -> NGSI update envelope -> ``write_http`` POSTing to the collector
process, with the default back-to-back trigger.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import Counter

from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators.ngsi import (
    entity_update_url,
    to_ngsi_update_json,
)
from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
    NgsiHttpReceiver,
    register_orion_source,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.jobs import (
    streaming_window_min,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import write_http

import harness as h
from loadgen import TEMP_BASE
from spans import BatchSpans

LIVE_RATE = 100  # notifications/s, below the receiver's knee
LIVE_KEYS = 50
LIVE_WARM_S = 4  # load before measuring, so the query is in its steady state
LIVE_PAD_S = 3  # load after measuring, so the last measured batch is a full one
LATE_LIMIT_MS = 500.0  # a generator later than this at p99 voids the run
FILL_RATE = 200
FILL_S = 5
FILL_ENTITIES = 20
FILL_KEYS = 2000
WARM_KEYS = 20


def start_window_query(spark, spool: str, sink_base: str, checkpoint: str):
    src = spark.readStream.format("orion_http").option("spool_dir", spool).load()
    mins = streaming_window_min(src)
    envelope = mins.select(
        to_ngsi_update_json(F.col("temperature_min"), "temperature_min", "Float").alias("content"),
        entity_update_url(sink_base + "/v2/entities/", F.col("id")).alias("url"),
        F.lit("application/json").alias("content_type"),
        F.lit("POST").alias("method"),
    )
    return write_http(envelope, checkpoint)


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the source, the query and its state store,
    from the micro-batch progress reports."""
    data = [p for p in progress if p["numInputRows"] > 0] or progress
    dur = [p["durationMs"] for p in data]
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    return {
        "source.latest_offset_ms_mean": h.mean(d.get("latestOffset", 0) for d in dur),
        "source.get_batch_ms_mean": h.mean(d.get("getBatch", 0) for d in dur),
        "source.input_rows": sum(p["numInputRows"] for p in progress),
        "query.batches": len(data),
        "query.trigger_ms_p50": h.percentile([d.get("triggerExecution", 0) for d in dur], 50),
        "query.add_batch_ms_mean": h.mean(d.get("addBatch", 0) for d in dur),
        "query.planning_ms_mean": h.mean(d.get("queryPlanning", 0) for d in dur),
        "query.wal_commit_ms_mean": h.mean(d.get("walCommit", 0) for d in dur),
        "query.commit_offsets_ms_mean": h.mean(d.get("commitOffsets", 0) for d in dur),
        "query.rows_per_batch_mean": h.mean(p["numInputRows"] for p in data),
        "state.rows_total": last.get("numRowsTotal", 0),
        "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state.memory_bytes_max": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "state.update_ms_mean": h.mean(o.get("allUpdatesTimeMs", 0) for o in ops),
        "state.commit_ms_mean": h.mean(o.get("commitTimeMs", 0) for o in ops),
        "state.shuffle_partitions": last.get("numShufflePartitions", 0),
        "state.rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def receiver_layers(run: h.Run, records: list[list], spool: str, parent) -> dict[str, float]:
    """Receiver metrics from the generator's records; every refused POST
    is a failed operation; a generator that ran late voids the run."""
    accepted = [r for r in records if r[4] == 200]
    late_ms = [(r[2] - r[1]) * 1000 for r in records]
    ack_ms = [(r[3] - r[1]) * 1000 for r in records]
    for seq, due, sent, answered, status in records:
        run.tracer.add("gen.post", sent, answered, parent, seq=seq, due=due, status=status)
    run.attempted += len(records)
    run.failed += len(records) - len(accepted)
    if len(accepted) < len(records):
        run.problems.append(f"{len(records) - len(accepted)} POSTs refused or failed")
    late_p99 = h.percentile(late_ms, 99)
    run.check(late_p99 <= LATE_LIMIT_MS, f"generator ran {late_p99:.0f} ms late at p99")
    files, size = h.spool_stats(spool)
    return {
        "receiver.posts_accepted": len(accepted),
        "receiver.posts_refused": len(records) - len(accepted),
        "receiver.spool_files": files,
        "receiver.spool_bytes": size,
        "receiver.ack_ms_p50": h.percentile(ack_ms, 50),
        "receiver.ack_ms_p99": h.percentile(ack_ms, 99),
        "gen.late_ms_p99": late_p99,
    }


def _keys(seed: int, n: int, prefix: str = "Room") -> list[str]:
    keys = [f"{prefix}{i}" for i in range(n)]
    random.Random(seed).shuffle(keys)
    return keys


def _await_rows(query, rows: int, timeout: float) -> None:
    """Wait until the query's progress reports account for ``rows``
    input rows (the batch that delivered them has been reported)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in query.recentProgress) >= rows:
            return
        time.sleep(0.05)


def _event_rows(run: h.Run, query, accepted: int, what: str) -> list[dict]:
    progress = progress_of(query)
    batches = [p["batchId"] for p in progress]
    run.check(
        batches == list(range(len(batches))),
        f"{what}: progress reports are missing batches {batches[:3]}...",
    )
    rows = sum(p["numInputRows"] for p in progress)
    run.check(rows == accepted, f"{what}: numInputRows {rows} != accepted POSTs {accepted}")
    return progress


class _Stack:
    """Everything a streaming workload starts, stopped in reverse."""

    def __init__(self, run: h.Run, spark=None):
        self.run = run
        if spark is None:
            spark, run.layers["session.start_s"] = h.start_session()
        self.spark = spark
        register_orion_source(self.spark)
        self.spool = os.path.join(run.dir, "spool")
        self.receiver = NgsiHttpReceiver(self.spool, port=0).start()
        self.collector = h.Collector()
        self.listener = None
        if run.tracer.enabled:
            self.listener = BatchSpans(run.tracer)
            self.spark.streams.addListener(self.listener)

    @property
    def receiver_url(self) -> str:
        return f"http://127.0.0.1:{self.receiver.port}/notify"

    def warm_up(self) -> float:
        """Run the job once over a small spool of its own, so the measured
        queries find Python workers started and code generated; returns
        the seconds it took."""
        t0 = time.time()
        spool = os.path.join(self.run.dir, "warm-spool")
        receiver = NgsiHttpReceiver(spool, port=0).start()
        try:
            url = f"http://127.0.0.1:{receiver.port}/notify"
            keys = _keys(self.run.seed, WARM_KEYS, "Warm")
            h.run_generator(self.run.dir, "warm", h.generator_spec(url, 400, 40, keys, 5, 0.1))
        finally:
            receiver.stop()
        query = start_window_query(
            self.spark, spool, self.collector.base, os.path.join(self.run.dir, "warm-ckpt")
        )
        _await_rows(query, 40, timeout=60)
        query.stop()
        self.delivered_before = self.collector.count()
        return time.time() - t0

    def untrace(self) -> None:
        """Remove the span listener, so later queries run untraced."""
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None

    def close(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        self.untrace()
        self.receiver.stop()
        self.collector.close()


def live_flat(run: h.Run, stack: _Stack) -> None:
    """Open-loop 100 notifications/s over 50 keys; event-to-result
    latency of every result that reflects a measured event."""
    keys = _keys(run.seed, LIVE_KEYS)
    warm = LIVE_RATE * LIVE_WARM_S
    measured = range(warm, warm + int(LIVE_RATE * run.seconds))
    count = measured.stop + LIVE_RATE * LIVE_PAD_S
    run.layers["session.warmup_s"] = stack.warm_up()
    with run.tracer.span("stream.query", workload="live_flat") as qspan:
        if stack.listener is not None:
            stack.listener.parent = qspan
        query = start_window_query(
            stack.spark, stack.spool, stack.collector.base, os.path.join(run.dir, "ckpt")
        )
        spec = h.generator_spec(stack.receiver_url, LIVE_RATE, count, keys, 1)
        measure_from = spec["start"] + LIVE_WARM_S
        run.e2e["setup_s"] = measure_from - run.t0
        records = h.run_generator(run.dir, "live", spec)
        accepted = sum(r[4] == 200 for r in records)
        _await_rows(query, accepted, timeout=60)
        progress = _event_rows(run, query, accepted, "live")
        query.stop()
    run.layers.update(receiver_layers(run, records, stack.spool, qspan))
    run.layers.update(stream_layers(progress))

    due = {r[0]: r[1] for r in records}
    newest: dict[str, int] = {}
    latencies = []
    deliveries = stack.collector.records(stack.delivered_before)
    for t, key, value in map(h.parse_delivery, deliveries):
        event = int(TEMP_BASE - value)
        newest[key] = max(newest.get(key, -1), event)
        if event in measured:
            latencies.append(t - due[event])
        run.tracer.add("sink.delivery", t, t, qspan, key=key, event=event)
    last_sent = {keys[r[0] % len(keys)]: r[0] for r in records if r[4] == 200}
    stale = 0
    for key, event in last_sent.items():
        stale += newest.get(key) != event
        run.check(
            newest.get(key) == event,
            f"live: key {key} last delivered event {newest.get(key)} != last sent {event}",
        )
    run.check(len(latencies) >= 100, f"live: only {len(latencies)} measured results")
    run.e2e["latency_mean_s"] = h.mean(latencies)
    run.e2e["latency_tail_s"] = h.percentile(latencies, 99)
    run.layers["sink.deliveries"] = len(deliveries)
    run.layers["sink.deliveries_per_input_row"] = len(deliveries) / max(len(records), 1)
    run.layers["sink.results_missing"] = stale  # keys whose final result never arrived


def _drain(run: h.Run, stack: _Stack, spool: str, accepted: int, expected: Counter, name: str):
    """Drain the spool with one fresh query, timed from query start to the
    last delivered result, and check that every expected window min
    arrived; returns (seconds, progress reports, deliveries)."""
    since = stack.collector.count()
    n_expected = sum(expected.values())
    t0 = time.time()
    query = start_window_query(
        stack.spark, spool, stack.collector.base, os.path.join(run.dir, f"{name}-ckpt")
    )
    done = stack.collector.wait_for(since + n_expected, timeout=60)
    _await_rows(query, accepted, timeout=60)
    progress = _event_rows(run, query, accepted, name)
    query.stop()
    got = [h.parse_delivery(r) for r in stack.collector.records(since)]
    run.check(
        done and Counter((k, v) for _, k, v in got) == expected,
        f"{name}: {len(got)} deliveries do not match the {n_expected} expected window mins",
    )
    return max((t for t, _, _ in got), default=time.time()) - t0, progress, got


def replay_probe(run: h.Run, stack: _Stack) -> str:
    """Fill a backlog through the receiver at a paced open-loop rate
    (paced because windows are keyed by arrival time), then drain it
    twice, each time with a fresh query: first traced, then with the
    listener removed.  The traced drain gives the per-layer metrics the
    workload itself did not measure; the two drain times give
    ``trace.overhead_ratio``.  Returns the spool, which the source and
    operator probes read."""
    spool = os.path.join(run.dir, "replay-spool")
    receiver = NgsiHttpReceiver(spool, port=0).start()
    try:
        with run.tracer.span("replay.fill") as fspan:
            url = f"http://127.0.0.1:{receiver.port}/notify"
            keys = _keys(run.seed, FILL_KEYS)
            spec = h.generator_spec(url, FILL_RATE, FILL_RATE * FILL_S, keys, FILL_ENTITIES)
            records = h.run_generator(run.dir, "fill", spec)
    finally:
        receiver.stop()
    for k, v in receiver_layers(run, records, spool, fspan).items():
        run.layers.setdefault(k, v)
    accepted = sum(r[4] == 200 for r in records)
    expected = h.expected_window_mins(h.spool_events(spool))
    entity_rows = accepted * FILL_ENTITIES

    with run.tracer.span("replay.drain") as dspan:
        if stack.listener is not None:
            stack.listener.parent = dspan
        traced_s, progress, got = _drain(run, stack, spool, accepted, expected, "replay")
    for t, key, _ in got:
        run.tracer.add("sink.delivery", t, t, dspan, key=key)
    stack.untrace()
    untraced_s, _, _ = _drain(run, stack, spool, accepted, expected, "replay-untraced")

    run.layers["query.drain_rows_per_s"] = entity_rows / traced_s
    # the traced drain runs first, so JVM warm-up that helps the second
    # drain counts against tracing
    run.layers["trace.overhead_ratio"] = traced_s / untraced_s
    for k, v in stream_layers(progress).items():
        run.layers.setdefault(k, v)
    run.layers.setdefault("sink.deliveries", len(got))
    run.layers.setdefault("sink.deliveries_per_input_row", len(got) / entity_rows)
    run.layers.setdefault("sink.results_missing", max(sum(expected.values()) - len(got), 0))
    return spool


def run_live(run: h.Run) -> _Stack:
    stack = _Stack(run)
    try:
        live_flat(run, stack)
    except BaseException:
        stack.close()
        raise
    return stack
