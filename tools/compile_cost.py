"""Fixed cost of the incremental stores' calls: Spark jobs, driver time, code generation.

Builds an ``IncrementalDeduper`` and an ``IncrementalANN`` from the seeded
``store_trickle`` corpus (``perfbench/store_trickle.py``), then runs R
rounds. A round is one 25-document dedup ``add_batch``, one 25-vector ANN
``add_batch`` and one ``topk`` of 3 stored vectors, followed by
``maintain()`` on both stores, the way ``store_trickle`` runs a cycle.
Each call runs under a Spark job group of its own; per call one JSON line
gives:

- ``wall_s``: wall seconds of the call;
- ``jobs`` and ``tasks``: Spark jobs the call ran and tasks they completed;
- ``in_jobs_s`` and ``outside_jobs_s``: the union of the jobs'
  submission-to-completion intervals, and the rest of the wall time
  (analysis, optimization, code generation, Python and py4j work on the
  driver);
- ``compiles`` and ``compile_ms``: classes Janino compiled during the
  call (``CodegenMetrics.METRIC_COMPILATION_TIME``'s count; a cache hit
  is not counted) and the time it spent on them
  (``CodeGenerator.compileTime``).

Jobs come from the status store, which Spark keeps with the UI off. The
header line gives the codegen cache size and whether PySpark captures
call sites; the last line gives per-call medians over rounds 2..R (round
1 warms the cache up):

    PYTHONPATH=. python tools/compile_cost.py --rounds 7 --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

CALLS = ("dedup.add_batch", "ann.add_batch", "ann.topk", "dedup.maintain", "ann.maintain")


class Meter:
    """Runs calls under job groups and reads their cost back."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.compiles = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))

    def run(self, name: str, fn) -> dict:
        group = f"compile-cost-{name}-{os.urandom(4).hex()}"
        self.sc.setJobGroup(group, group)
        n0, ns0 = self.compiles.getCount(), self.codegen.compileTime()
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        n1, ns1 = self.compiles.getCount(), self.codegen.compileTime()
        # the status store is fed by the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [
            j for j in json.loads(self.mapper.writeValueAsString(self.store.jobsList(None)))
            if j.get("jobGroup") == group
        ]
        in_jobs = _union_s(
            (j["submissionTime"], j["completionTime"]) for j in jobs
            if j.get("submissionTime") is not None and j.get("completionTime") is not None
        )
        return {
            "call": name,
            "wall_s": round(wall, 3),
            "jobs": len(jobs),
            "tasks": sum(j["numCompletedTasks"] + j["numFailedTasks"] for j in jobs),
            "in_jobs_s": round(in_jobs, 3),
            "outside_jobs_s": round(wall - in_jobs, 3),
            "compiles": n1 - n0,
            "compile_ms": round((ns1 - ns0) / 1e6, 1),
        }


def _union_s(spans) -> float:
    """Seconds covered by the union of (start, end) epoch-ms intervals."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=7)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=3)
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors.utils import is_debugging_enabled
    from store_trickle import K, N_PROBE, Corpus

    from embulk_input_mixpanel_spark.operators.incremental_ann import IncrementalANN
    from embulk_input_mixpanel_spark.operators.incremental_dedup import IncrementalDeduper
    from embulk_input_mixpanel_spark.session import get_spark

    spark = get_spark(
        "compile-cost", cores=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="compile-cost-")
    print(json.dumps({
        "rounds": args.rounds,
        "seed": args.seed,
        "codegen_cache_max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
        "call_site_capture": is_debugging_enabled(),
    }))

    def staged(name: str, rows: list[tuple], kind: str):
        cols = ("doc_id", "text") if kind == "docs" else ("vec_id", "embedding")
        typ = pa.string() if kind == "docs" else pa.list_(pa.float32())
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(pa.table({cols[0]: pa.array([r[0] for r in rows], pa.int64()),
                                 cols[1]: pa.array([r[1] for r in rows], typ)}), path)
        return spark.read.parquet(path)

    try:
        corpus = Corpus(args.seed)
        dd = IncrementalDeduper(spark, os.path.join(root, "dedup"))
        ann = IncrementalANN(spark, os.path.join(root, "ann"))
        dd.add_batch(staged("docs", corpus.docs, "docs"))
        ann.add_batch(staged("vecs", corpus.vecs, "vecs"))
        meter = Meter(spark)
        rows: list[dict] = []
        for r in range(args.rounds):
            docs, _, vecs, queries = corpus.round(r)
            docs_df = staged(f"docs-{r}", docs, "docs")
            vecs_df = staged(f"vecs-{r}", vecs, "vecs")
            calls = (
                ("dedup.add_batch", lambda: dd.add_batch(docs_df).collect()),
                ("ann.add_batch", lambda: ann.add_batch(vecs_df)),
                ("ann.topk", lambda: ann.topk(query_ids=queries, k=K, n_probe=N_PROBE).collect()),
                ("dedup.maintain", lambda: dd.maintain(max_files_per_bucket=1)),
                ("ann.maintain", lambda: ann.maintain(max_files_per_bucket=1)),
            )
            for name, fn in calls:
                row = {"round": r + 1, **meter.run(name, fn)}
                rows.append(row)
                print(json.dumps(row))
        steady = [row for row in rows if row["round"] > 1] or rows
        print(json.dumps({
            "median_of_rounds": f"2..{args.rounds}" if args.rounds > 1 else "1",
            **{
                name: {
                    key: round(
                        statistics.median(row[key] for row in steady if row["call"] == name), 3
                    )
                    for key in ("wall_s", "jobs", "tasks", "in_jobs_s", "outside_jobs_s",
                                "compiles", "compile_ms")
                }
                for name in CALLS
            },
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
