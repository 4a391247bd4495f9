"""Spark job budgets of the incremental stores' per-batch work.

Each test runs one 25-row ``add_batch`` on a store built from 500 rows,
under its own Spark job group, and counts the jobs it scheduled with
``statusTracker().getJobIdsForGroup``. Under AQE every exchange of an
action is a job of its own, so the counts are a direct measure of the
fixed cost a small batch pays. The pinned results are what the same
inputs produced before the job budgets were cut (pair sets, ingest count
and the new vectors' cluster assignments, plus one ``topk`` probe). The
stores' maintenance compaction is budgeted the same way, and so are the
classes a steady store round compiles.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_input_mixpanel_spark.operators.dedup import _rebalance
from embulk_input_mixpanel_spark.operators.incremental_ann import IncrementalANN
from embulk_input_mixpanel_spark.operators.incremental_dedup import IncrementalDeduper
from embulk_input_mixpanel_spark.sources.lake import LakeTable

N_BASE = 500
N_BATCH = 25
NEW_ID = 1_000_000

# measured 18 and 7: a small lake commit is one Arrow collect and the
# batch's bucket list one aggregate in one task
DEDUP_JOB_BUDGET = 18
ANN_JOB_BUDGET = 7

# (id_a, id_b, jaccard) returned for the 25-document batch below
EXPECTED_PAIRS = {
    (12, 1000005): 1.0, (18, 1000004): 1.0, (20, 1000006): 1.0,
    (26, 1000013): 1.0, (36, 1000023): 1.0, (40, 1000008): 1.0,
    (53, 1000014): 1.0, (67, 1000019): 1.0, (90, 1000024): 1.0,
    (120, 1000003): 1.0, (126, 1000021): 1.0, (160, 1000001): 1.0,
    (168, 1000020): 1.0, (189, 1000011): 1.0, (191, 1000007): 1.0,
    (210, 1000010): 1.0, (213, 1000000): 1.0, (255, 1000016): 1.0,
    (267, 1000015): 1.0, (381, 1000009): 1.0, (394, 1000022): 0.981818,
    (417, 1000012): 0.965517, (449, 1000017): 0.972973, (482, 1000002): 1.0,
    (496, 1000018): 1.0,
}
# sha256 of the sorted (id, cluster, cos_r) rows the ANN batch stored
EXPECTED_ANN_DIGEST = "8591d3471a227a1c79d6dffc2e87a32dfa6859e5ed3265aedc76846ef36563a4"
# sha256 of the sorted (query_id, neighbor_id, cos_r, rnk) rows of a k=10,
# n_probe=2 probe for TOPK_QUERIES after the ANN batch
TOPK_QUERIES = [3, 141, 388, NEW_ID + 7]
EXPECTED_TOPK_DIGEST = "64e74cffb15cff181bb4278476f0ec3c8e2ba4ec129d8ae0d27c980a1e44dd98"

# classes a steady store round (dedup add_batch, ANN add_batch, topk)
# compiles: each batch's long literals are inlined into generated Java
# (dedup batch_seq: 4 classes, ANN batch_seq: 2, topk's isin ids: 2)
STEADY_ROUND_COMPILE_BUDGET = 8


def _corpus(seed: int = 5):
    rng = random.Random(seed)
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 8)))
             for _ in range(300)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60))))
            for i in range(N_BASE)]
    # the batch: copies of stored documents under new ids, the last few
    # with one extra word (near, not exact, duplicates)
    src = rng.sample(range(N_BASE), N_BATCH)
    batch = [
        (NEW_ID + j, docs[s][1] + (f" {rng.choice(vocab)}" if j % 5 == 2 and j > 10 else ""))
        for j, s in enumerate(src)
    ]
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]

    def vec(i):
        c = centers[i % len(centers)]
        return [x + 0.3 * rng.gauss(0, 1) for x in c]

    vecs = [(i, vec(i)) for i in range(N_BASE)]
    new_vecs = [(NEW_ID + j, vec(j)) for j in range(N_BATCH)]
    return docs, batch, vecs, new_vecs


def _staged(spark, root: str, name: str, rows: list[tuple], kind: str):
    """``rows`` as one parquet file, the way a landed batch arrives."""
    if kind == "docs":
        cols, typ = ("doc_id", "text"), pa.string()
    else:
        cols, typ = ("vec_id", "embedding"), pa.list_(pa.float32())
    table = pa.table({cols[0]: pa.array([r[0] for r in rows], pa.int64()),
                      cols[1]: pa.array([r[1] for r in rows], typ)})
    path = os.path.join(root, f"{name}.parquet")
    pq.write_table(table, path)
    return spark.read.parquet(path)


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def _compiles(spark) -> int:
    """Classes Janino compiled in this JVM so far (codegen cache hits are
    not counted)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    group = f"store-jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def inputs():
    return _corpus()


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="store-jobs-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_dedup_add_batch_job_budget_and_stats_add_no_work(spark, inputs, workdir):
    docs, batch, _, _ = inputs
    base = _staged(spark, workdir, "base", docs, "docs")
    new = _staged(spark, workdir, "batch", batch, "docs")
    runs = {}
    for label, stats in (("stats", {}), ("plain", None)):
        dd = IncrementalDeduper(spark, os.path.join(workdir, label))
        dd.add_batch(base)
        pairs, jobs = _count_jobs(spark, lambda: dd.add_batch(new, stats=stats))
        runs[label] = ({(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}, jobs)
    (with_stats, jobs_stats), (plain, jobs_plain) = runs["stats"], runs["plain"]
    assert jobs_stats <= DEDUP_JOB_BUDGET, jobs_stats
    # stats= reads values the batch computes anyway: no extra Spark job
    assert jobs_stats == jobs_plain, (jobs_stats, jobs_plain)
    assert with_stats == plain == EXPECTED_PAIRS


def test_ann_add_batch_job_budget_and_stats_add_no_work(spark, inputs, workdir):
    _, _, vecs, new_vecs = inputs
    base = _staged(spark, workdir, "base", vecs, "vecs")
    new = _staged(spark, workdir, "batch", new_vecs, "vecs")
    runs = {}
    for label, stats in (("stats", {}), ("plain", None)):
        ann = IncrementalANN(spark, os.path.join(workdir, label))
        ann.add_batch(base)
        n, jobs = _count_jobs(spark, lambda: ann.add_batch(new, stats=stats))
        stored = _digest(
            ann.vectors.read().filter(f"id >= {NEW_ID}").select("id", "cluster", "cos_r").collect()
        )
        probe = _digest(ann.topk(query_ids=TOPK_QUERIES, k=10, n_probe=2).collect())
        runs[label] = (n, jobs, stored, probe)
    (n_stats, jobs_stats, digest, probe), (n_plain, jobs_plain, digest_plain, probe_plain) = (
        runs["stats"], runs["plain"]
    )
    assert jobs_stats <= ANN_JOB_BUDGET, jobs_stats
    assert jobs_stats == jobs_plain, (jobs_stats, jobs_plain)
    assert n_stats == n_plain == N_BATCH
    assert digest == digest_plain == EXPECTED_ANN_DIGEST
    assert probe == probe_plain == EXPECTED_TOPK_DIGEST


def test_rebalance_runs_no_job_on_a_shuffled_frame(spark, workdir):
    left = _staged(spark, workdir, "l", [(i, f"t{i}") for i in range(50)], "docs")
    right = _staged(spark, workdir, "r", [(i, f"u{i}") for i in range(0, 50, 2)], "docs")
    joined = left.join(right.select("doc_id"), "doc_id", "left_anti").groupBy("doc_id").count()
    out, jobs = _count_jobs(spark, lambda: _rebalance(joined))
    assert jobs == 0
    assert out is joined


def test_rebalance_widens_a_one_partition_scan_and_leaves_a_small_batch(spark, workdir):
    rng = random.Random(3)
    # ~1 MB of incompressible text in one file (one row group): one scan
    # partition, big enough to be worth widening
    big_rows = [(i, "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2000)))
                for i in range(500)]
    big = _staged(spark, workdir, "big", big_rows, "docs")
    assert big.rdd.getNumPartitions() == 1
    wide, jobs = _count_jobs(spark, lambda: _rebalance(big))
    assert jobs == 0
    assert wide.rdd.getNumPartitions() > 1
    assert sorted(r["doc_id"] for r in wide.collect()) == list(range(500))

    small = _staged(spark, workdir, "small", big_rows[:N_BATCH], "docs")
    out, jobs = _count_jobs(spark, lambda: _rebalance(small))
    assert jobs == 0
    assert out is small


def test_compact_of_many_small_files_runs_two_jobs(spark, workdir, monkeypatch):
    """One scan over every compacted file plus one write through Spark's
    writer (forced: these bytes are under ``DRIVER_WRITE_BYTES``): a
    shuffle-map job and a write job. The scan names 96 files, and Spark's
    default would first list more than 32 explicit paths in a job of its
    own."""
    from pyspark.sql import types as T

    from embulk_input_mixpanel_spark.sources import lake

    monkeypatch.setattr(lake, "DRIVER_WRITE_BYTES", -1)
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    t = LakeTable.create(spark, os.path.join(workdir, "tbl"), schema, num_buckets=32)
    for i in range(3):
        rows = spark.createDataFrame([(i * 1000 + j, f"v{j}") for j in range(200)], schema)
        t.commit_append(rows.withColumn("bucket", t.bucket_expr("id")))
    files_in = len(t.snapshot().all_files())
    assert files_in >= 64 and len(t.snapshot().files) == 32
    (snap, stats), jobs = _count_jobs(spark, lambda: t.compact(min_files=2))
    assert jobs <= 2
    assert stats["files_in"] == files_in and stats["buckets_compacted"] == 32
    assert all(len(fl) == 1 for fl in snap.files.values())


def test_small_commit_append_and_compact_run_one_job_each(spark, inputs, workdir):
    """A 25-row append into 32 buckets and the compaction of what three
    such appends left are each one Spark job: the driver writes the
    files from one Arrow collect. The compaction scan names more than 32
    files, so a file-listing job would show here too."""
    from pyspark.sql import types as T

    from embulk_input_mixpanel_spark.session import DRIVER_WRITE_BYTES

    _, batch, _, _ = inputs
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    t = LakeTable.create(spark, os.path.join(workdir, "tbl"), schema, num_buckets=32)
    for i in range(3):
        new = _staged(spark, workdir, f"b{i}", batch, "docs")
        snap, jobs = _count_jobs(
            spark, lambda: t.commit_append(new.withColumn("bucket", t.bucket_expr("doc_id")))
        )
        assert jobs <= 1, jobs
    assert max(len(fl) for fl in snap.files.values()) == 3
    assert len(snap.all_files()) > 32
    nbytes = sum(os.path.getsize(os.path.join(t.path, f)) for f in snap.all_files())
    assert nbytes <= DRIVER_WRITE_BYTES
    (snap, stats), jobs = _count_jobs(spark, lambda: t.compact(min_files=2))
    assert jobs <= 1, jobs
    assert all(len(fl) == 1 for fl in snap.files.values())
    assert t.read().count() == 3 * N_BATCH


def test_lake_buckets_of_equals_distinct_on_a_multi_partition_frame(spark, workdir):
    from pyspark.sql import functions as F

    from embulk_input_mixpanel_spark.sources.lake import bucket_of, lake_buckets_of

    t = LakeTable.create(spark, os.path.join(workdir, "tbl"), _id_schema(), num_buckets=64)
    for frame in (
        spark.range(0, 5000, 7, numPartitions=6),
        spark.range(40, numPartitions=3).repartition(5),
        spark.range(0).repartition(2),
    ):
        assert frame.rdd.getNumPartitions() > 1
        want = sorted(
            r["b"] for r in frame.select(bucket_of(64, "id").alias("b")).distinct().collect()
        )
        assert lake_buckets_of(frame, t, "id") == want
    # one bucket per key, hashed as the writer hashes it
    one = spark.range(3, 4).select(F.col("id"))
    assert lake_buckets_of(one, t, "id") == [one.select(t.bucket_expr("id")).first()[0]]


def _id_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("id", T.LongType())])


def _staging_dirs(table) -> set[str]:
    data = os.path.join(table.path, "data")
    return {d for d in os.listdir(data) if d.startswith("v")} if os.path.isdir(data) else set()


def _count_commit_jobs(spark, table) -> list[tuple[dict, int]]:
    """Run every commit of ``table`` under :func:`_count_jobs`; the list
    returned collects (snapshot properties, Spark jobs) per commit."""
    seen = []
    for name in ("commit_append", "commit_properties", "commit_rewrite"):
        real = getattr(table, name)

        def counted(*a, _real=real, **kw):
            snap, jobs = _count_jobs(spark, lambda: _real(*a, **kw))
            seen.append((dict(snap.properties), jobs))
            return snap

        setattr(table, name, counted)
    return seen


def test_purge_watermark_and_cap_stamp_are_properties_only_commits(spark, inputs, workdir):
    """The purge watermark of both stores and the dedup cap-enable stamp
    are metadata-only commits: no Spark job, no staged data directory."""
    docs, _, vecs, _ = inputs
    dd = IncrementalDeduper(spark, os.path.join(workdir, "dedup"))
    dd.add_batch(_staged(spark, workdir, "docs", docs[:60], "docs"))
    ann = IncrementalANN(spark, os.path.join(workdir, "ann"))
    ann.add_batch(_staged(spark, workdir, "vecs", vecs[:60], "vecs"))
    for store in (dd, ann):
        assert store.delete([3, 4, 5]) == 3
        before = _staging_dirs(store.deleted)
        commits = _count_commit_jobs(spark, store.deleted)
        assert store.purge_deleted()["purged_ids"] == 3
        # the watermark is the purge's last commit, and its only one on
        # the registry
        assert len(commits) == 1, commits
        props, jobs = commits[-1]
        assert int(props["purged_seq"]) == int(props["batch_seq"]) == 1
        assert jobs == 0, jobs
        assert int(store.deleted.properties["purged_seq"]) == 1
        assert _staging_dirs(store.deleted) == before
        assert store.purge_deleted()["purged_ids"] == 0

    # enabling the df cap on an uncapped store stamps it into sigs
    before = _staging_dirs(dd.sigs)
    capped, jobs = _count_jobs(
        spark, lambda: IncrementalDeduper(spark, dd.path, max_shingle_docs=50)
    )
    assert jobs == 0, jobs
    assert capped.sigs.properties["max_shingle_docs"] == 50
    assert _staging_dirs(capped.sigs) == before
    with pytest.raises(ValueError, match="max_shingle_docs"):
        IncrementalDeduper(spark, dd.path, max_shingle_docs=60)


def test_steady_store_round_reuses_generated_code(spark, inputs, workdir):
    """A steady store round compiles only what its per-batch literals
    change: Spark's codegen cache holds the classes of the previous
    rounds (``session.CODEGEN_CACHE_ENTRIES``). At Spark's default of 100
    entries a round evicted what the next one needed and compiled about
    120 classes."""
    docs, _, vecs, _ = inputs
    dd = IncrementalDeduper(spark, os.path.join(workdir, "dedup"))
    dd.add_batch(_staged(spark, workdir, "docs", docs, "docs"))
    ann = IncrementalANN(spark, os.path.join(workdir, "ann"))
    ann.add_batch(_staged(spark, workdir, "vecs", vecs, "vecs"))
    rng = random.Random(11)
    rounds = []
    for r in range(3):
        first = NEW_ID + 1000 * (r + 1)
        src = rng.sample(range(N_BASE), N_BATCH)
        new_docs = [(first + j, docs[s][1]) for j, s in enumerate(src)]
        new_vecs = [(first + j, [x + rng.gauss(0, 0.05) for x in vecs[s][1]])
                    for j, s in enumerate(src)]
        rounds.append((
            {(s, first + j) for j, s in enumerate(src)},
            _staged(spark, workdir, f"docs{r}", new_docs, "docs"),
            _staged(spark, workdir, f"vecs{r}", new_vecs, "vecs"),
            rng.sample(range(N_BASE), 3),
        ))
    compiled = []
    for copies, new_docs, new_vecs, queries in rounds:
        before = _compiles(spark)
        pairs = {(p["id_a"], p["id_b"]) for p in dd.add_batch(new_docs).collect()}
        n = ann.add_batch(new_vecs)
        probe = ann.topk(query_ids=queries, k=10, n_probe=2).collect()
        compiled.append(_compiles(spark) - before)
        assert copies <= pairs
        assert n == N_BATCH
        assert len(probe) == 3 * 10
    assert compiled[2] <= STEADY_ROUND_COMPILE_BUDGET, compiled


def test_session_turns_python_call_site_capture_off(spark):
    """With capture on (PySpark's default) every ``functions`` or
    ``Column`` call walks the Python stack and makes extra py4j round
    trips to record its call site."""
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False

    from embulk_input_mixpanel_spark.session import CODEGEN_CACHE_ENTRIES

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_ENTRIES
