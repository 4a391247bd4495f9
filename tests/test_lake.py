"""Lake table format: atomic snapshots, bucket pruning, schema evolution."""

import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_input_mixpanel_spark.sources.lake import LakeTable, bucket_of

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _with_bucket(df, nb):
    return df.withColumn("bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(nb)).cast("int"))


def test_create_read_empty(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    assert t.exists()
    assert t.version == 0
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA


def test_commit_and_time_travel(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    df1 = _with_bucket(spark.createDataFrame([("r1", "a", 1), ("r2", "b", 1)], SCHEMA), 4)
    touched = [r[0] for r in df1.select("bucket").distinct().collect()]
    t.commit_rewrite(df1, touched, properties={"hwm": {"0": 10}})
    assert t.version == 1
    assert t.read().count() == 2
    assert t.properties["hwm"] == {"0": 10}

    df2 = _with_bucket(spark.createDataFrame([("r1", "a", 2)], SCHEMA), 4)
    b = df2.select("bucket").first()[0]
    # new contents for bucket b = just this row (overwrites what was there)
    t.commit_rewrite(df2, [b], properties={"hwm": {"0": 20}})
    assert t.version == 2

    # time travel: v1 still readable and unchanged
    assert t.read(version=1).count() == 2
    assert {r["v"] for r in t.read(version=1).collect()} == {1}


def test_bucket_pruned_read_opens_only_touched_files(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i) for i in range(50)]
    df = _with_bucket(spark.createDataFrame(rows, SCHEMA), 8)
    touched = sorted(r[0] for r in df.select("bucket").distinct().collect())
    t.commit_rewrite(df, touched)
    snap = t.snapshot()
    some = [int(b) for b in list(snap.files)[:2]]
    pruned = t.read(buckets=some)
    full = t.read()
    assert 0 < pruned.count() < full.count()
    # pruned scan must reference strictly fewer files
    n_files_pruned = sum(len(snap.files[str(b)]) for b in some)
    assert n_files_pruned < len(snap.all_files())


def test_schema_evolution_old_files_read_null(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    df = _with_bucket(spark.createDataFrame([("r1", "a", 1)], SCHEMA), 2)
    b1 = df.select("bucket").first()[0]
    t.commit_rewrite(df, [b1])

    new_schema = t.evolve_schema([T.StructField("extra", T.StringType(), True)])
    df2 = spark.createDataFrame([("r9", "z", 2, "hello")], new_schema)
    df2 = _with_bucket(df2, 2)
    b2 = df2.select("bucket").first()[0]
    if b2 == b1:  # keep old file alive: write into the other bucket via key choice
        df2 = _with_bucket(
            spark.createDataFrame([("r8", "y", 2, "hello")], new_schema), 2
        )
        b2 = df2.select("bucket").first()[0]
    t.commit_rewrite(df2, [b2], schema=new_schema)

    out = t.read().orderBy("v").collect()
    assert [f.name for f in t.schema.fields][-1] == "extra"
    by_v = {r["v"]: r for r in out}
    assert by_v[1]["extra"] is None  # old file: evolved column reads NULL
    if 2 in by_v:
        assert by_v[2]["extra"] == "hello"


def test_point_lookup_prunes_to_one_bucket(spark, tmp_table_dir):
    """lookup() must agree with a full-scan filter while opening only the
    key's bucket files (the serving path of the bucket transform)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i) for i in range(50)]
    df = _with_bucket(spark.createDataFrame(rows, SCHEMA), 8)
    touched = sorted(r[0] for r in df.select("bucket").distinct().collect())
    t.commit_rewrite(df, touched)

    got = t.lookup({"repo": "r7", "path": "p7"}).collect()
    assert [(r["repo"], r["path"], r["v"]) for r in got] == [("r7", "p7", 7)]
    # files opened = exactly the one bucket's files, strictly fewer than all
    snap = t.snapshot()
    opened = t.lookup({"repo": "r7", "path": "p7"}).inputFiles()
    assert 0 < len(opened) < len(snap.all_files())
    # a key that never existed: empty, still single-bucket
    assert t.lookup({"repo": "nope", "path": "nope"}).count() == 0


def test_commit_properties_only(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    v0_files = t.snapshot().files
    t.commit_properties({"cursor_seq": 99})
    assert t.version == 1
    assert t.properties["cursor_seq"] == 99
    assert t.snapshot().files == v0_files


def test_crash_before_pointer_swap_is_invisible(spark, tmp_table_dir):
    """Data staged but snapshot not swapped -> readers see old state."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    # simulate: stage data files manually without committing
    stage = os.path.join(tmp_table_dir, "data", "v00000001", "bucket=0")
    os.makedirs(stage)
    spark.createDataFrame([("rX", "pX", 9)], SCHEMA).write.mode("overwrite").parquet(stage)
    assert t.version == 0
    assert t.read().count() == 0


def test_history_rollback_and_expire(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    for i in range(1, 4):
        df = _with_bucket(spark.createDataFrame([(f"r{i}", "p", i)], SCHEMA), 2)
        touched = [r[0] for r in df.select("bucket").distinct().collect()]
        t.commit_rewrite(df, touched)
    assert [s.version for s in t.history()] == [0, 1, 2, 3]

    t.rollback(1)
    assert t.version == 4
    assert {r["v"] for r in t.read().collect()} == {1}  # state of v1
    assert t.properties["rolled_back_to"] == 1

    # v1's files must survive expiry because CURRENT (v4) references them
    removed = t.expire_snapshots(keep_last=2)
    versions_left = [s.version for s in t.history()]
    assert versions_left == [3, 4]
    assert {r["v"] for r in t.read().collect()} == {1}
    # something from the dropped-only lineage may be removed, never v1 data
    for f in t.snapshot().all_files():
        import os as _os

        assert _os.path.exists(_os.path.join(t.path, f))


def test_commit_append_leaves_existing_files_untouched(spark, tmp_table_dir):
    """Append-only commit: new files land in their buckets, every prior
    file survives verbatim (O(batch) append, never CoW of history), time
    travel still sees the pre-append state, and the optimistic guard
    rejects stale writers."""
    import pytest

    from embulk_input_mixpanel_spark.sources.lake import ConcurrentCommitError

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    df1 = _with_bucket(spark.createDataFrame([("r1", "a", 1), ("r2", "b", 1)], SCHEMA), 4)
    t.commit_rewrite(df1, [r[0] for r in df1.select("bucket").distinct().collect()])
    files_v1 = {b: list(fl) for b, fl in t.snapshot().files.items()}

    df2 = _with_bucket(spark.createDataFrame([("r1", "a", 2), ("r3", "c", 1)], SCHEMA), 4)
    t.commit_append(df2, properties={"note": "batch2"})
    assert t.version == 2
    files_v2 = t.snapshot().files
    for b, fl in files_v1.items():
        assert set(fl) <= set(files_v2.get(b, [])), "append must not drop/rewrite files"
    # append = multiset add: the (r1, a) rows now both exist (immutable log)
    assert t.read().count() == 4
    assert t.read(version=1).count() == 2  # time travel unaffected
    assert t.properties["note"] == "batch2"
    with pytest.raises(ConcurrentCommitError):
        t.commit_append(df2, expected_version=1)


def _multiset(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_compact_merges_small_files_physically(spark, tmp_table_dir):
    """N appends -> O(N) files per bucket; compact -> 1 file per bucket,
    contents preserved as a MULTISET (duplicates and tombstone-shaped rows
    survive verbatim — compaction is physical, semantics stay with
    readers), time travel intact, expire reclaims the small files."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    for i in range(5):
        df = _with_bucket(
            spark.createDataFrame(
                [("r1", "a", i), ("r2", "b", i), ("r1", "a", i)], SCHEMA
            ),
            4,
        )
        t.commit_append(df)
    before = _multiset(t.read())
    files_before = {b: len(fl) for b, fl in t.snapshot().files.items()}
    assert max(files_before.values()) >= 5

    snap, stats = t.compact(min_files=2)
    assert snap is not None and stats["buckets_skipped_concurrent"] == 0
    assert stats["files_in"] >= 10 and stats["files_out"] == stats["buckets_compacted"]
    files_after = {b: len(fl) for b, fl in t.snapshot().files.items()}
    assert all(n == 1 for n in files_after.values()), files_after
    assert _multiset(t.read()) == before
    assert _multiset(t.read(version=snap.version - 1)) == before  # time travel
    # second compact is a no-op (already 1 file/bucket)
    snap2, stats2 = t.compact(min_files=2)
    assert snap2 is None and stats2["buckets_compacted"] == 0
    # expire reclaims the superseded small files from disk
    removed = t.expire_snapshots(keep_last=1)
    assert removed
    assert _multiset(t.read()) == before


def _appended(spark, path, num_buckets, batches=3, rows=60):
    t = LakeTable.create(spark, path, SCHEMA, num_buckets=num_buckets)
    for i in range(batches):
        rows_i = [("r%d" % j, "p%d" % (j % 7), i) for j in range(rows)]
        t.commit_append(_with_bucket(spark.createDataFrame(rows_i, SCHEMA), num_buckets))
    return t


def test_compact_keeps_each_bucket_rows_in_that_bucket(spark, tmp_table_dir):
    """The single-scan rewrite reads every row's bucket back from its
    file: per bucket, the row multiset is identical before and after,
    and every row still hashes to the bucket it is stored in."""
    t = _appended(spark, tmp_table_dir, 8)
    before = {int(b): _multiset(t.read(buckets=[int(b)])) for b in t.snapshot().files}
    snap, stats = t.compact(min_files=2)
    assert snap is not None and stats["buckets_compacted"] == len(before)
    for b, rows in before.items():
        got = t.read(buckets=[b])
        assert _multiset(got) == rows, b
        assert got.filter(t.bucket_expr("repo", "path") != b).count() == 0, b


def test_compact_narrow_rewrite_writes_one_file_per_bucket(spark, tmp_table_dir):
    """A rewrite small enough for one task still writes one file per
    compacted bucket, as every append does: any static task count puts
    each bucket in exactly one task."""
    from embulk_input_mixpanel_spark.session import BYTES_PER_TASK

    t = _appended(spark, tmp_table_dir, 8)
    pre = t.snapshot()
    total = sum(os.path.getsize(os.path.join(t.path, f)) for f in pre.all_files())
    assert len(pre.files) == 8 and total < 2 * BYTES_PER_TASK  # sized to one task
    # each of the three appends wrote one file per bucket it touched
    assert all(len(fl) == 3 for fl in pre.files.values())
    snap, stats = t.compact(min_files=2)
    assert stats["buckets_compacted"] == 8 and stats["files_out"] == 8
    assert {b: len(fl) for b, fl in snap.files.items()} == {b: 1 for b in pre.files}


def test_compact_refuses_a_file_outside_its_bucket_directory(spark, tmp_table_dir):
    """The bucket a compacted row lands in comes from its file's
    bucket=N directory, so a listed file whose directory disagrees with
    its listing (or that sits in no bucket=N directory) makes compact
    raise before anything is staged, never mislabel its rows."""
    import dataclasses
    import shutil

    import pytest

    t = _appended(spark, tmp_table_dir, 2)
    good = t.snapshot()
    b0, b1 = sorted(good.files)
    # a bucket-1 file listed under bucket 0 (not in bucket 0's listing)
    swapped = dict(good.files, **{b0: good.files[b0] + good.files[b1][:1]})
    # a bucket-0 file moved out of its bucket=0 directory
    loose = os.path.join("data", "loose", os.path.basename(good.files[b0][0]))
    os.makedirs(os.path.join(t.path, "data", "loose"))
    shutil.copy(os.path.join(t.path, good.files[b0][0]), os.path.join(t.path, loose))
    moved = dict(good.files, **{b0: [loose] + good.files[b0][1:]})
    for files in (swapped, moved):
        t._write_snapshot(dataclasses.replace(good, version=t.version + 1, files=files))
        forged = t.snapshot()
        with pytest.raises(ValueError, match="bucket="):
            t.compact(min_files=2)
        assert t.snapshot() == forged
        assert not any("compact" in d for d in os.listdir(os.path.join(t.path, "data")))


def test_compact_commutes_with_concurrent_append(spark, tmp_table_dir):
    """A batch appended BETWEEN staging and the commit critical section
    must survive: the swapped bucket keeps the racing file alongside the
    compacted one (append commutes with compaction — no retry needed)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    for i in range(3):
        t.commit_append(
            _with_bucket(spark.createDataFrame([("r1", "a", i), ("r2", "b", i)], SCHEMA), 2)
        )
    racer = _with_bucket(spark.createDataFrame([("r1", "a", 99), ("r2", "b", 99)], SCHEMA), 2)
    expected = _multiset(t.read()) + _multiset(racer.drop("bucket"))

    snap, stats = t.compact(min_files=2, _post_stage_hook=lambda: t.commit_append(racer))
    assert snap is not None
    assert stats["buckets_compacted"] >= 1 and stats["buckets_skipped_concurrent"] == 0
    assert _multiset(t.read()) == expected


def test_compact_skips_bucket_rewritten_concurrently(spark, tmp_table_dir):
    """A CoW rewrite landing mid-compaction invalidates the staged file
    for that bucket: compact must SKIP it (never resurrect replaced
    data) and publish nothing if no bucket survived the check."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=1)
    for i in range(3):
        t.commit_append(_with_bucket(spark.createDataFrame([("r1", "a", i)], SCHEMA), 1))

    def rewrite_all():
        df = _with_bucket(spark.createDataFrame([("r1", "a", 777)], SCHEMA), 1)
        t.commit_rewrite(df, [0])

    snap, stats = t.compact(min_files=2, _post_stage_hook=rewrite_all)
    assert snap is None
    assert stats["buckets_skipped_concurrent"] == 1 and stats["buckets_compacted"] == 0
    assert _multiset(t.read()) == _multiset(
        spark.createDataFrame([("r1", "a", 777)], SCHEMA)
    )


def test_vacuum_orphans_reclaims_unreferenced_files_only(spark, tmp_table_dir):
    """Orphans (crashed/raced commit leftovers, skipped compaction stages)
    are deleted once past the grace window; every file referenced by ANY
    retained snapshot — and live files' .crc siblings — survive, and
    reads are unchanged. Young orphans are protected by the grace."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    for i in range(2):
        t.commit_append(
            _with_bucket(spark.createDataFrame([("r1", "a", i), ("r2", "b", i)], SCHEMA), 2)
        )
    before = _multiset(t.read())
    n_files_live = len(t.snapshot().all_files())

    # forge orphans: a skipped-compaction staging dir with a fake file
    orphan_dir = os.path.join(t.path, "data", "v00000099-deadbeef", "bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.snappy.parquet")
    with open(orphan, "w") as fh:
        fh.write("junk")

    # young orphan is protected by the grace window
    assert t.vacuum_orphans(grace_seconds=3600) == []
    assert os.path.exists(orphan)
    # past the grace: reclaimed, empty dirs pruned, live files untouched
    # (write-marker files like _SUCCESS are unreferenced too — also fair game)
    removed = t.vacuum_orphans(grace_seconds=0)
    assert any(r.endswith("part-orphan.snappy.parquet") for r in removed)
    assert not any(r.endswith(".parquet") and "orphan" not in r for r in removed)
    assert not os.path.exists(os.path.dirname(orphan))
    assert len(t.snapshot().all_files()) == n_files_live
    assert _multiset(t.read()) == before
    # time travel to v1 still works (its files are retained by history)
    assert t.read(version=1).count() == 2


def test_vacuum_grace_protects_whole_inflight_staging_dir(spark, tmp_table_dir):
    """A slow commit stages files minutes apart into ONE attempt dir;
    vacuum must treat the DIRECTORY as the in-flight unit — an old file
    sitting next to a freshly-written sibling is part of a commit that
    may be about to swap, and deleting it would let the swapped snapshot
    reference a deleted file (corruption, not just lost staging)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    t.commit_append(
        _with_bucket(spark.createDataFrame([("r1", "a", 1)], SCHEMA), 2)
    )

    stage = os.path.join(t.path, "data", "v00000099-cafecafe", "bucket=0")
    os.makedirs(stage)
    early = os.path.join(stage, "part-early.snappy.parquet")
    late = os.path.join(stage, "part-late.snappy.parquet")
    for p in (early, late):
        with open(p, "w") as fh:
            fh.write("junk")
    old = time.time() - 7200
    os.utime(early, (old, old))  # staged an hour+ ago; commit still running

    # the young sibling keeps the WHOLE attempt dir protected
    assert t.vacuum_orphans(grace_seconds=3600) == []
    assert os.path.exists(early) and os.path.exists(late)

    # once the dir is quiescent past the grace, both go
    os.utime(late, (old, old))
    removed = t.vacuum_orphans(grace_seconds=3600)
    assert sorted(os.path.basename(r) for r in removed) == [
        "part-early.snappy.parquet", "part-late.snappy.parquet",
    ]


def test_compact_max_records_per_file_bounds_output(spark, tmp_table_dir):
    """A mega-bucket compacts to SEVERAL bounded files, not one unbounded
    one (single-file buckets would serialize that bucket's scan)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=1)
    for i in range(3):
        rows = [("r%d" % j, "p", i) for j in range(40)]
        t.commit_append(_with_bucket(spark.createDataFrame(rows, SCHEMA), 1))
    before = _multiset(t.read())
    snap, stats = t.compact(min_files=2, max_records_per_file=50)
    assert snap is not None
    files = t.snapshot().files["0"]
    assert len(files) >= 3, files  # 120 rows / 50 cap -> >= 3 files
    assert _multiset(t.read()) == before


# ---------------------------------------------- driver-written small commits

WIDE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("ls", T.ArrayType(T.LongType())),
        T.StructField("ds", T.ArrayType(T.DoubleType())),
    ]
)
WIDE_ROWS = [
    (1, 7, 1.5, "plain", [1, 2, 3], [0.5, -1.0]),
    (2, -3, float("nan"), "", [], []),
    (3, None, None, None, None, None),
    (4, 0, -0.0, "héllo wörld ✓ 日本", [None, 4], [float("nan"), None]),
    (5, 2**31 - 1, 1e300, "a" * 300, [2**62], [float("inf"), float("-inf")]),
    (None, 1, 2.0, "null id", [0], [0.0]),
    *[(100 + i, i, i / 7, f"r{i}", list(range(i % 4)), [i * 0.25] * (i % 3)) for i in range(40)],
]


def _wide_table(spark, root, num_buckets=8):
    """A table under ``root/t`` and WIDE_ROWS landed as parquet under
    ``root/in``: a file scan has a real size estimate, where a frame
    built from a Python list is sized as unknown (and so always takes
    Spark's writer)."""
    spark.createDataFrame(WIDE_ROWS, WIDE).write.parquet(os.path.join(root, "in"))
    t = LakeTable.create(spark, os.path.join(root, "t"), WIDE, num_buckets=num_buckets)
    df = spark.read.schema(WIDE).parquet(os.path.join(root, "in"))
    return t, df.withColumn("bucket", t.bucket_expr("id"))


def _rows(df):
    """Order-free, NaN-safe row listing (NaN != NaN as a float)."""
    return sorted(repr(tuple(r)) for r in df.collect())


def _writers(t):
    """Bucket id -> parquet `created_by` of each file in the snapshot."""
    import pyarrow.parquet as pq

    return {
        b: {pq.ParquetFile(os.path.join(t.path, f)).metadata.created_by.split()[0] for f in fl}
        for b, fl in t.snapshot().files.items()
    }


def test_driver_and_spark_writes_read_back_identically(spark, tmp_table_dir, monkeypatch):
    """The same rows staged by the driver (pyarrow) and by Spark's writer
    read back identically through read(), after an append and after a
    compaction: longs, ints, doubles with NaN/inf/-0.0, empty and
    non-ASCII strings, nulls everywhere, and long/double arrays that are
    empty, null or hold nulls."""
    from embulk_input_mixpanel_spark.sources import lake

    driver, df = _wide_table(spark, os.path.join(tmp_table_dir, "driver"))
    for _ in range(2):
        driver.commit_append(df)
    monkeypatch.setattr(lake, "DRIVER_WRITE_BYTES", -1)
    on_spark, df_spark = _wide_table(spark, os.path.join(tmp_table_dir, "spark"))
    for _ in range(2):
        on_spark.commit_append(df_spark)
    assert {w for ws in _writers(driver).values() for w in ws} == {"parquet-cpp-arrow"}
    assert {w for ws in _writers(on_spark).values() for w in ws} == {"parquet-mr"}
    expected = sorted(repr(tuple(r)) for r in WIDE_ROWS * 2)
    assert _rows(driver.read()) == _rows(on_spark.read()) == expected
    for b in driver.snapshot().files:
        assert _rows(driver.read(buckets=[int(b)])) == _rows(on_spark.read(buckets=[int(b)]))

    monkeypatch.setattr(lake, "DRIVER_WRITE_BYTES", 1 << 20)
    driver.compact(min_files=2)
    monkeypatch.setattr(lake, "DRIVER_WRITE_BYTES", -1)
    on_spark.compact(min_files=2)
    assert _rows(driver.read()) == _rows(on_spark.read()) == expected


def test_driver_write_adds_one_file_per_touched_bucket(spark, tmp_table_dir):
    """Every small append and rewrite stages exactly one driver-written
    file in each bucket its rows hash into, and none elsewhere."""
    t, df = _wide_table(spark, tmp_table_dir, num_buckets=64)
    touched = {str(r["bucket"]) for r in df.select("bucket").distinct().collect()}
    assert 1 < len(touched) < 64
    t.commit_append(df)
    t.commit_append(df)
    assert {b: len(fl) for b, fl in t.snapshot().files.items()} == {b: 2 for b in touched}
    t.commit_rewrite(df, sorted(int(b) for b in touched))
    assert {b: len(fl) for b, fl in t.snapshot().files.items()} == {b: 1 for b in touched}
    assert all(w == {"parquet-cpp-arrow"} for w in _writers(t).values())
    assert _rows(t.read()) == sorted(repr(tuple(r)) for r in WIDE_ROWS)


def test_driver_compaction_rolls_over_at_max_records_per_file(spark, tmp_table_dir):
    """A driver-written compaction splits a bucket into files of at most
    ``max_records_per_file`` rows, like Spark's maxRecordsPerFile."""
    import pyarrow.parquet as pq

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=1)
    for i in range(3):
        rows = [("r%d" % j, "p", i) for j in range(40)]
        t.commit_append(_with_bucket(spark.createDataFrame(rows, SCHEMA), 1))
    before = _multiset(t.read())
    snap, stats = t.compact(min_files=2, max_records_per_file=50)
    files = snap.files["0"]
    counts = sorted(pq.ParquetFile(os.path.join(t.path, f)).metadata.num_rows for f in files)
    assert counts == [20, 50, 50] and stats["files_out"] == 3
    assert _writers(t) == {"0": {"parquet-cpp-arrow"}}
    assert _multiset(t.read()) == before


def test_driver_write_crash_before_pointer_swap_is_invisible(spark, tmp_table_dir, monkeypatch):
    """A driver-staged append that dies before its pointer swap leaves
    its files on disk, unreferenced: readers see the previous snapshot,
    and the table commits normally afterwards."""
    t, df = _wide_table(spark, tmp_table_dir)
    t.commit_append(df)
    data = os.path.join(t.path, "data")
    staged_before = set(os.listdir(data))

    def crash(snap):
        raise OSError("killed before the pointer swap")

    monkeypatch.setattr(t, "_write_snapshot", crash)
    import pytest

    with pytest.raises(OSError):
        t.commit_append(df)
    assert len(set(os.listdir(data)) - staged_before) == 1  # staged, unreferenced
    monkeypatch.undo()
    assert t.version == 1
    assert _rows(t.read()) == sorted(repr(tuple(r)) for r in WIDE_ROWS)
    t.commit_append(df)
    assert t.read().count() == 2 * len(WIDE_ROWS)


def test_write_above_driver_cutoff_takes_spark_writer(spark, tmp_table_dir, monkeypatch):
    """An input the optimizer sizes above ``DRIVER_WRITE_BYTES`` is
    staged by Spark's writer (one file per bucket), not collected."""
    from embulk_input_mixpanel_spark.session import estimated_bytes
    from embulk_input_mixpanel_spark.sources import lake

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    big = spark.range(2_000).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("repo"),
        F.lit("p").alias("path"),
        F.col("id").alias("v"),
    )
    big = _with_bucket(big, 4)
    monkeypatch.setattr(lake, "DRIVER_WRITE_BYTES", estimated_bytes(big) // 2)
    t.commit_append(big)
    assert _writers(t) == {str(b): {"parquet-mr"} for b in range(4)}
    assert t.read().count() == 2_000


def test_checkpointed_write_is_sized_by_its_stored_blocks(spark, tmp_table_dir, monkeypatch):
    """A checkpointed frame keeps the size estimate of the plan it was
    checkpointed from: 500 rows of 64 doubles are estimated far below
    their bytes. Sized by its stored blocks, a frame whose rows exceed
    the cutoff while its estimate is below it takes Spark's writer
    instead of being collected to the driver."""
    from embulk_input_mixpanel_spark.session import estimated_bytes, size_of
    from embulk_input_mixpanel_spark.sources import lake

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
    ])
    t = LakeTable.create(spark, tmp_table_dir, schema, num_buckets=4)
    df = (
        spark.range(500)
        .select(bucket_of(4, "id").alias("bucket"), "id",
                F.array(*[F.rand(i) for i in range(64)]).alias("v"))
        .localCheckpoint(eager=True)
    )
    cutoff = 64 * 1024  # 500 x 64 doubles is 256 KB
    monkeypatch.setattr(lake, "DRIVER_WRITE_BYTES", cutoff)
    assert estimated_bytes(df) < cutoff < size_of(df)
    t.commit_append(df)
    assert _writers(t) == {str(b): {"parquet-mr"} for b in range(4)}
    assert t.read().count() == 500


def test_driver_write_dictionary_encodes_only_repetitive_columns(spark, tmp_table_dir):
    """A driver-written file dictionary-encodes a flat column at most half
    of whose values are distinct (a three-value string column), and keeps
    a unique string column, a unique long column and an array column
    plain."""
    import pyarrow.parquet as pq

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    t = LakeTable.create(spark, tmp_table_dir, schema, num_buckets=1)
    df = spark.range(1_000).select(
        F.lit(0).alias("bucket"),
        "id",
        F.element_at(F.array(F.lit("py"), F.lit("go"), F.lit("rs")),
                     (F.col("id") % 3 + 1).cast("int")).alias("lang"),
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("content"),
        F.array(F.lit("a")).alias("tags"),
    )
    t.commit_append(df)
    (f,) = t.snapshot().all_files()
    meta = pq.ParquetFile(os.path.join(t.path, f)).metadata
    assert meta.created_by.startswith("parquet-cpp-arrow")
    rg = meta.row_group(0)
    dictionary = {
        rg.column(i).path_in_schema.split(".")[0]: rg.column(i).has_dictionary_page
        for i in range(rg.num_columns)
    }
    assert dictionary == {"id": False, "lang": True, "content": False, "tags": False}
    assert t.read().count() == 1_000


def test_lookup_bucket_matches_a_computed_bucket_over_random_keys(spark):
    """The bucket lookup() reads from the constant-folded plan equals the
    one Spark computes for the same literals, over random string keys
    (empty and non-ASCII included) and long keys."""
    import random

    import pytest

    from embulk_input_mixpanel_spark.sources.lake import _literal_bucket

    rng = random.Random(11)
    alphabet = "abcXYZ09 _/é日本✓\u0000"
    keys = [["", ""], ["é", "日本"]]
    while len(keys) < 200:
        if rng.random() < 0.5:
            keys.append(["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
                         for _ in range(2)])
        else:
            keys.append([rng.randint(-(2**63), 2**63 - 1)])
    computed = spark.range(1).select(
        *[bucket_of(32, *[F.lit(v) for v in k]).alias(f"b{i}") for i, k in enumerate(keys)]
    ).first()
    assert [_literal_bucket(spark, 32, [F.lit(v) for v in k]) for k in keys] == list(computed)
    with pytest.raises(RuntimeError, match="literal"):
        _literal_bucket(spark, 32, [F.col("id")])


def test_lookup_hashes_the_key_as_its_column_type_and_snapshot(spark, tmp_table_dir):
    """A Python int key of a long column finds its row (an int literal
    would hash into another bucket), and a lookup of an older snapshot
    uses that snapshot's bucket count after the table was re-bucketed."""
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    t = LakeTable.create(spark, tmp_table_dir, schema, num_buckets=16)
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(100)], schema)
    t.commit_rewrite(rows.withColumn("bucket", t.bucket_expr("id")), list(range(16)))
    assert [tuple(r) for r in t.lookup({"id": 7}).collect()] == [(7, "v7")]
    t.commit_rewrite(rows.withColumn("bucket", bucket_of(5, "id")), [], num_buckets=5)
    assert [tuple(r) for r in t.lookup({"id": 7}).collect()] == [(7, "v7")]
    assert [tuple(r) for r in t.lookup({"id": 8}, version=1).collect()] == [(8, "v8")]


def test_lookup_runs_one_spark_job(spark, tmp_table_dir):
    """Finding the key's bucket runs no job: collecting a lookup is the
    single scan job."""
    from tests.test_store_jobs import _count_jobs

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i) for i in range(50)]
    df = _with_bucket(spark.createDataFrame(rows, SCHEMA), 8)
    t.commit_rewrite(df, list(range(8)))
    got, jobs = _count_jobs(spark, lambda: t.lookup({"repo": "r7", "path": "p7"}).collect())
    assert [(r["repo"], r["path"], r["v"]) for r in got] == [("r7", "p7", 7)]
    assert jobs == 1
