"""Spark job budget of one replay batch.

A batch shaped like a ``perfbench`` ``replay_tail`` batch — 2k events
into a backfilled 16-bucket table, whose commit the driver writes —
runs under its own job group, and the jobs it scheduled are counted with
``statusTracker().getJobIdsForGroup``, as ``tests/test_store_jobs.py``
does for the stores. The batch's counts (``keys_upserted``,
``rows_in_touched_after``) come from its own actions and the written
files' footers, so they add no job.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from embulk_input_mixpanel_spark.runner import open_or_create, replay
from embulk_input_mixpanel_spark.session import DRIVER_WRITE_BYTES
from embulk_input_mixpanel_spark.sources import lake
from embulk_input_mixpanel_spark.sources.genevents import change_events

from .test_store_jobs import _count_jobs

BASE = 6_000
BATCH = 2_000
# measured 7: one action for the metrics and discovery aggregates, and
# the merge write, each exchange a job of its own under AQE
REPLAY_JOB_BUDGET = 7


def test_replay_batch_job_budget(spark, tmp_path, monkeypatch):
    ev = change_events(spark, BASE + BATCH, n_repos=100, paths_per_repo=500,
                       dup_rate=0.1, evolve_after=BASE // 2, seed=1)
    src = str(tmp_path / "stream")
    ev.repartitionByRange(8, "event_seq").sortWithinPartitions("event_seq").write.parquet(src)
    stream = spark.read.parquet(src)
    table = open_or_create(spark, str(tmp_path / "t"), num_buckets=16)
    replay(table, stream, upper_bound=BASE, slice_size=BASE)

    staged = []
    stage = lake.LakeTable._stage

    def spy(self, df, version, nbytes, *args, **kwargs):
        staged.append(nbytes)
        return stage(self, df, version, nbytes, *args, **kwargs)

    monkeypatch.setattr(lake.LakeTable, "_stage", spy)
    rep, jobs = _count_jobs(
        spark, lambda: replay(table, stream, upper_bound=BASE + BATCH, slice_size=BATCH)
    )
    (b,) = rep.batches
    assert len(staged) == 1 and staged[0] <= DRIVER_WRITE_BYTES  # the driver path
    assert b.touched_buckets == 16
    files = table.snapshot().files
    assert {k: len(fl) for k, fl in files.items()} == {str(k): 1 for k in range(16)}
    assert {
        pq.ParquetFile(os.path.join(table.path, f)).metadata.created_by.split()[0]
        for fl in files.values() for f in fl
    } == {"parquet-cpp-arrow"}
    assert jobs <= REPLAY_JOB_BUDGET, jobs
    assert b.keys_upserted > 0
    assert b.rows_in_touched_after == table.read(include_tombstones=True).count()
