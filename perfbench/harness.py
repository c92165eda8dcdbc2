"""Pieces every workload shares: the work directory, the Spark session,
the generator and collector processes, percentiles and the window-min
oracle over a spool."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
import urllib.request
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
SLIDE_US = 2_000_000
SIZE_US = 5_000_000


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the package from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    tempfile.tempdir = tmp


def start_session():
    """The engine's default session; returns (spark, seconds taken)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM process PySpark launched for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def new_run_dir(workload: str) -> str:
    path = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class Collector:
    """The broker stand-in process (collector.py)."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "collector.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.base = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def count(self) -> int:
        return self._get("/stats")["n"]

    def records(self, since: int = 0) -> list[list]:
        return self._get(f"/dump?since={since}")

    def wait_for(self, n: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.count() >= n:
                return True
            time.sleep(0.02)
        return False

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


def run_generator(run_dir: str, name: str, spec: dict) -> list[list]:
    """Run loadgen.py to completion; returns its per-notification
    records [seq, due, sent, answered, status]."""
    spec_path = os.path.join(run_dir, f"{name}.spec.json")
    out_path = os.path.join(run_dir, f"{name}.out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), spec_path, out_path]
    )
    budget = spec["start"] - time.time() + spec["count"] / spec["rate"] + 60
    try:
        proc.wait(timeout=max(budget, 60))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"generator exited with {proc.returncode}")
    with open(out_path) as f:
        return json.load(f)


def generator_spec(url, rate, count, keys, entities, lead_s=0.5):
    return {
        "url": url,
        "start": time.time() + lead_s,
        "rate": rate,
        "count": count,
        "keys": keys,
        "entities": entities,
        "threads": min(4, os.cpu_count() or 1),
    }


def spool_events(spool_dir: str) -> list[tuple[int, str, float]]:
    """(arrival µs, entity id, temperature) of every spooled entity, with
    the arrival time rounded to µs exactly as the source does."""
    out = []
    for fname in sorted(os.listdir(spool_dir)):
        if not fname.endswith(".jsonl"):
            continue
        with open(os.path.join(spool_dir, fname), encoding="utf-8") as f:
            for line in f:
                rec = json.loads(line)
                ts = dt.datetime.fromtimestamp(rec["ts"], dt.timezone.utc)
                t_us = (ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
                    microseconds=1
                )
                for ent in json.loads(rec["payload"])["data"]:
                    out.append((t_us, ent["id"], float(ent["temperature"]["value"])))
    return out


def expected_window_mins(events) -> Counter:
    """Multiset of (entity id, min temperature) over every 5 s / 2 s
    sliding window an entity has events in: what one drain of the spool
    must deliver."""
    mins: dict[tuple[int, str], float] = {}
    for t_us, key, temp in events:
        start = (t_us // SLIDE_US) * SLIDE_US
        while start + SIZE_US > t_us:
            k = (start, key)
            mins[k] = min(mins.get(k, math.inf), temp)
            start -= SLIDE_US
    return Counter((key, v) for (_, key), v in mins.items())


def parse_delivery(rec) -> tuple[float, str, float]:
    """Collector record -> (receipt epoch s, entity id, temperature_min)."""
    t, path, body = rec
    key = path.rsplit("/", 2)[-2]
    return t, key, float(json.loads(body)["temperature_min"]["value"])


def spool_stats(spool_dir: str) -> tuple[int, int]:
    files = [f for f in os.listdir(spool_dir) if f.endswith(".jsonl")]
    return len(files), sum(os.path.getsize(os.path.join(spool_dir, f)) for f in files)


class Run:
    """What one invocation measures: end-to-end metrics, per-layer
    metrics, and the operations attempted and failed."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.dir = new_run_dir(workload)
        self.t0 = time.time()
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, problem: str) -> None:
        """One correctness operation; a failed one counts and is reported."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)
