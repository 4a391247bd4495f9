"""Round-6 optimization side-bench (bench.py stays frozen for the driver).

Per-query isolated timing through the noop sink (guide §1.4), labeled jobs
(§1.5), repeat-min reporting, and a fixed-work host-witness canary thread
(VERDICT r5 "What's wrong #1": a bench number must carry evidence that the
host was quiet while it ran).

Usage:
  python bench_extra.py queries [name ...]     # noop-timed queries
  python bench_extra.py replay                 # replay + per-stage timings
Env:
  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS   (default all)
  BENCH_REPEATS      (default 3)

Output: ONE JSON line per mode.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES as DEFAULT_QUERIES  # noqa: E402
from embulk_input_mixpanel_spark import workloads  # noqa: E402
from embulk_input_mixpanel_spark.session import default_parallelism, get_spark  # noqa: E402


_CANARY_SRC = r"""
import sys, time
k, it = 0, 0
t0 = time.time()
out = open(sys.argv[1], "w")
while True:
    for _ in range(20000):
        k = (k * 1103515245 + 12345) % (1 << 31)
    it += 1
    now = time.time()
    if now - t0 >= 1.0:
        out.write(f"{it / (now - t0):.1f}\n")
        out.flush()
        t0, it = now, 0
"""


class Canary:
    """Fixed-work spin loop in a SEPARATE PROCESS; records iterations/sec
    per second to a temp file.

    A subprocess, NOT a thread: an in-process spin thread holds the
    driver's GIL in 5 ms slices, so every py4j round-trip of the measured
    code pays up to a full switch interval — it distorts the measurement
    it is supposed to witness (observed: JVM idle in waitForCommands while
    the driver crawled through plan construction). On a quiet host the
    per-second rate is flat; co-tenant steal shows up as deep minima
    (CLAUDE.md: the signature is 1-s stalls). The canary shares a core
    with our own Spark gang, so the median self-depresses during heavy
    stages — the MIN is the contamination discriminator, not the median.
    """

    def __init__(self) -> None:
        import tempfile

        self._path = tempfile.mktemp(prefix="canary-", suffix=".log")
        self._proc = None
        self.rates: list[float] = []

    def __enter__(self):
        import subprocess

        self._proc = subprocess.Popen(
            [sys.executable, "-c", _CANARY_SRC, self._path],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        return self

    def __exit__(self, *exc):
        if self._proc is not None:
            self._proc.kill()
            self._proc.wait()
        try:
            with open(self._path) as fh:
                self.rates = [float(x) for x in fh.read().split() if x]
            os.unlink(self._path)
        except OSError:
            self.rates = []

    def summary(self) -> dict:
        if not self.rates:
            return {"canary_min": None, "canary_median": None, "n_samples": 0}
        return {
            "canary_min": round(min(self.rates), 1),
            "canary_median": round(statistics.median(self.rates), 1),
            "n_samples": len(self.rates),
        }


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_queries(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", default_parallelism()))
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    spark = get_spark("bench-extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    registry = {**workloads.SPARK_QUERIES, **workloads.AUX_QUERIES}
    out: dict[str, dict] = {}
    load1 = os.getloadavg()[0]
    with Canary() as canary:
        for name in names:
            fn = registry[name]
            spark.sparkContext.setJobDescription(f"warm: {name}")
            fn(spark, sf_dir).count()
            samples = []
            for r in range(repeats):
                spark.sparkContext.setJobDescription(f"timed[{r}]: {name}")
                t0 = time.time()
                _force(fn(spark, sf_dir))
                samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {"min": min(samples), "samples": samples}
    print(
        json.dumps(
            {
                "mode": "queries",
                "sf_dir": sf_dir,
                "cores": cores,
                "queries": out,
                "total_min": round(sum(v["min"] for v in out.values()), 3),
                "loadavg_at_start": load1,
                **canary.summary(),
            }
        )
    )


def bench_replay() -> None:
    import shutil
    import tempfile

    from embulk_input_mixpanel_spark.runner import open_or_create, replay
    from embulk_input_mixpanel_spark.sources.genevents import change_events

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", default_parallelism()))
    n_events = int(os.environ.get("BENCH_EVENTS", max(int(20_000_000 * sf), 20_000)))
    spark = get_spark("bench-extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="bench-extra-")
    ev = change_events(
        spark, n_events, n_repos=max(200, n_events // 2000), paths_per_repo=500,
        dup_rate=0.1, evolve_after=n_events // 2,
    )
    stream_path = os.path.join(work, "stream")
    (
        ev.repartitionByRange(max(cores * 2, 8), "event_seq")
        .sortWithinPartitions("event_seq")
        .write.parquet(stream_path)
    )
    stream = spark.read.parquet(stream_path)
    table = open_or_create(spark, os.path.join(work, "repo_files"), num_buckets=max(cores * 2, 16))
    warm = max(n_events // 50, 1)
    replay(table, stream, upper_bound=warm, slice_size=warm, lineage=False)
    with Canary() as canary:
        t0 = time.time()
        rep = replay(
            table, stream, upper_bound=n_events, slice_size=max(n_events // 4, 1),
            lineage=True,
        )
        replay_s = time.time() - t0
    batches = [
        {
            "rows_in": b.rows_in,
            "seconds": round(b.seconds, 3),
            "timings": b.extra.get("timings", {}),
        }
        for b in rep.batches
    ]
    print(
        json.dumps(
            {
                "mode": "replay",
                "events": n_events,
                "seconds": round(replay_s, 3),
                "events_per_sec": round(rep.rows_in / replay_s, 1),
                "batches": batches,
                "cores": cores,
                **canary.summary(),
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "replay":
        bench_replay()
    else:
        bench_queries(sys.argv[2:] or DEFAULT_QUERIES)
