"""Closed-loop benchmark of the CDC engine: one workload per invocation.

    python3 perfbench/run.py --workload replay_tail --seed 1 --seconds 30 --trace 0

Runs from the root of a checkout of the repository and reads and writes
only below it (scratch state under ``.perfbench/``). Each invocation is a
fresh Python process with a fresh Spark JVM at a pinned ``local[N]``.

Standard output ends with two lines:

- a report: every metric under the names the workload defines, the
  latency samples, host witnesses (loadavg, subprocess canary) and, with
  ``--trace 1``, the per-span table;
- the result: ``{"correct", "attempted", "failed", "metrics"}`` carrying
  the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
  per-layer metrics (``--trace 1``).

Exits 1 when any operation raised or failed its correctness check, and 2
when the engine is not importable (a directory holding only the
benchmark).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one core left for this Python process; N < nproc always
LOCAL_N = max(1, min(3, (os.cpu_count() or 4) - 1))


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("replay_tail", "store_trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _confine(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark below
    ``work``; returns the Spark confs that do it for the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir,
    # for spark-submit's launcher JVM as for Spark's own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM child process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure ends in a kill
            proc.kill()
            proc.wait()


def main() -> int:
    args = _parse()
    sys.path.insert(0, ROOT)
    try:
        from embulk_input_mixpanel_spark.session import get_spark
        from bench_extra import Canary
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import harness
    import replay_tail
    import store_trickle
    from spans import Tracer

    workload = {"replay_tail": replay_tail, "store_trickle": store_trickle}[args.workload]

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench"))
    conf = _confine(work)
    conf.update(
        {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of the window in the status store
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        }
    )
    load_start = os.getloadavg()
    spark = None
    try:
        # the host witness spins only while the JVM starts: beside the
        # measured work it slowed tail batches by a fifth on a 4-vCPU host,
        # reniced or not, and beside set-up it slowed set-up as much
        with Canary() as canary:
            spark = get_spark(f"perfbench-{args.workload}", cores=LOCAL_N, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = harness.Run(spark, tracer, args.seed, args.seconds, work, LOCAL_N, T_START)
        getattr(workload, args.workload)(run)
        report = run.report
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    report.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        local_n=LOCAL_N, nproc=os.cpu_count(),
        loadavg_start=load_start, loadavg_end=os.getloadavg(),
        canary_session_start=canary.summary(), wall_s=time.perf_counter() - T_START,
    )
    if args.trace:
        # a layer the workload bypasses did no work: zero counts and shares
        kind, values = "per_layer", {**dict.fromkeys(workload.BYPASSES, 0.0), **report["per_layer"]}
    else:
        kind, values = "end_to_end", report["metrics"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)[kind]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(report, default=float))
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
