"""Cost of one small bucketed lake write, through Spark's writer and the driver.

Stages a B-bucket x R-row frame (an id and a 64-double vector per row)
through ``LakeTable._stage`` twice per repeat: once on Spark's
``partitionBy("bucket")`` writer behind ``repartition(B, "bucket")`` (the
``commit_append`` layout) and once on the driver path
(``toArrow()`` + one pyarrow file per bucket). Per path it prints the
median wall seconds, the fewest processes forked during one write, the
files written and the Spark jobs run; the header line gives the input's
optimizer size estimate and whether Hadoop's native library is loaded
(without it the local file system forks a ``chmod`` per file it creates).

Forks are read from the ``processes`` line of ``/proc/stat``: a count of
every fork on the host, so other tenants add noise; the minimum over the
repeats is the estimate. Use it to re-measure
``session.DRIVER_WRITE_BYTES`` on another host:

    PYTHONPATH=. python tools/write_cost.py --buckets 32 --rows 25 --repeats 7
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
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from embulk_input_mixpanel_spark.session import estimated_bytes, get_spark
    from embulk_input_mixpanel_spark.sources.lake import LakeTable, bucket_of

    spark = get_spark(
        "write-cost", cores=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="write-cost-")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
    ])
    table = LakeTable.create(spark, os.path.join(root, "t"), schema, num_buckets=args.buckets)
    df = (
        spark.range(args.rows)
        .select("id", F.array(*[F.rand(i) for i in range(64)]).alias("v"))
        .select(bucket_of(args.buckets, "id").alias("bucket"), "id", "v")
        .localCheckpoint(eager=True)
    )
    print(json.dumps({
        "buckets": args.buckets,
        "rows": args.rows,
        "estimated_bytes": estimated_bytes(df),
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
