"""Cost of one bucketed lake write, through Spark's writer and the driver.

Stages a B-bucket x R-row frame through ``LakeTable._stage`` twice per
repeat: once on Spark's ``partitionBy("bucket")`` writer behind
``repartition(B, "bucket")`` (the ``commit_append`` layout) and once on
the driver path (``toArrow()`` + one pyarrow file per bucket). Two row
shapes:

- ``vector`` (default): an id and a 64-double vector, a store row;
- ``replay``: a CDC table row of strings and longs built from
  ``change_events`` (key, commit, language, ~130-character content, its
  sha256, order columns, op, residual props and two promoted props), a
  replay commit's row.

Per path it prints the median wall seconds, the fewest processes forked
during one write, the files written and the Spark jobs run; the header
line gives the input's optimizer size estimate, the size a lake write
picks its writer by (``session.size_of``), the bytes of the collected
Arrow table, and whether Hadoop's native library is loaded (without it
the local file system forks a ``chmod`` per file it creates).

Forks are read from the ``processes`` line of ``/proc/stat``: a count of
every fork on the host, so other tenants add noise; the minimum over the
repeats is the estimate. Use it to re-measure
``session.DRIVER_WRITE_BYTES`` on another host:

    PYTHONPATH=. python tools/write_cost.py --buckets 32 --rows 25 --repeats 7
    PYTHONPATH=. python tools/write_cost.py --shape replay --buckets 16 --rows 200000
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

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def forks() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return -1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--rows", type=int, default=25)
    ap.add_argument("--repeats", type=int, default=7)
    ap.add_argument("--cores", type=int, default=3)
    ap.add_argument("--shape", choices=("vector", "replay"), default="vector")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from embulk_input_mixpanel_spark.session import estimated_bytes, get_spark, size_of
    from embulk_input_mixpanel_spark.sources.genevents import change_events
    from embulk_input_mixpanel_spark.sources.lake import LakeTable, bucket_of

    spark = get_spark(
        "write-cost", cores=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="write-cost-")
    if args.shape == "vector":
        df = spark.range(args.rows).select(
            bucket_of(args.buckets, "id").alias("bucket"), "id",
            F.array(*[F.rand(i) for i in range(64)]).alias("v"),
        )
    else:
        ev = change_events(spark, args.rows, n_repos=max(100, args.rows // 2000),
                           paths_per_repo=500, seed=1)
        df = ev.select(
            bucket_of(args.buckets, "repo", "path").alias("bucket"),
            "repo", "path", "commit", "lang", "content",
            F.sha2("content", 256).alias("content_sha"),
            "commit_seq", "event_seq", "event_id", "ts_ms", "source_partition",
            F.col("props").alias("props_rest"), "op",
            F.get_json_object("props", "$.size").alias("p_size"),
            F.get_json_object("props", "$.mode").alias("p_mode"),
        )
    df = df.localCheckpoint(eager=True)
    table = LakeTable.create(spark, os.path.join(root, "t"), df.drop("bucket").schema,
                             num_buckets=args.buckets)
    print(json.dumps({
        "shape": args.shape,
        "buckets": args.buckets,
        "rows": args.rows,
        "estimated_bytes": estimated_bytes(df),
        "size_of": size_of(df),
        "arrow_bytes": df.toArrow().nbytes,
        "hadoop_native": bool(
            spark._jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded()
        ),
    }))

    paths = {"spark": 1 << 62, "driver": 0}  # nbytes that select each path
    samples: dict[str, list[tuple[float, int, int, int]]] = {p: [] for p in paths}
    try:
        for i in range(args.repeats + 1):  # the first round warms both paths up
            for name, nbytes in paths.items():
                group = f"write-cost-{name}-{i}"
                sc.setJobGroup(group, group)
                f0, t0 = forks(), time.perf_counter()
                staged = table._stage(df, i, nbytes, partitions=args.buckets)
                dt, nf = time.perf_counter() - t0, forks() - f0
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                if i:
                    files = sum(len(fl) for fl in staged.values())
                    samples[name].append((dt, nf, files, jobs))
        for name, rows in samples.items():
            print(json.dumps({
                "path": name,
                "median_s": round(statistics.median(r[0] for r in rows), 4),
                "forks_min": min(r[1] for r in rows),
                "files": rows[0][2],
                "jobs": rows[0][3],
            }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
