"""Benchmark of the NGSI engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload live_flat --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  live_flat       open-loop notifications through the receiver, the
                  Example2 stream job and the HTTP sink, live
  batch_registry  a fixed sample of registry queries, seed-ordered, on
                  tables generated inside the checkout

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1.  A traced run also writes its spans to
perfbench/out/spans-<workload>-<seed>.jsonl.  Any correctness mismatch
makes the command exit 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

# the engine under test; fails here when the checkout does not hold it
import fiware_cosmos_orion_flink_connector_examples_spark  # noqa: E402,F401

import batch  # noqa: E402
import harness as h  # noqa: E402
import probes  # noqa: E402
import streams  # noqa: E402
from spans import Tracer  # noqa: E402


def spec() -> dict:
    with open(os.path.join(h.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def measure(run: h.Run) -> None:
    if run.workload == "batch_registry":
        spark = batch.run_batch(run)
        stack = None
    else:
        stack = streams.run_live(run)
        spark = stack.spark
    try:
        if run.tracer.enabled:
            probes.run_probes(run, spark, stack)
    finally:
        if stack is not None:
            stack.close()
        h.stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the processes it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload}")

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    run = h.Run(args.workload, args.seed, args.seconds, tracer)
    h.prepare_env(run.dir)
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            measure(run)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = run.layers if args.trace else run.e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        run.check(
            isinstance(v, (int, float)) and math.isfinite(v),
            f"metric {m['name']} was not measured",
        )
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if args.trace:
        os.makedirs(h.OUT, exist_ok=True)
        tracer.write(os.path.join(h.OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    print(f"perfbench: e2e {json.dumps(run.e2e)}", file=sys.stderr)
    print(f"perfbench: layers {json.dumps(run.layers)}", file=sys.stderr)
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    correct = run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
