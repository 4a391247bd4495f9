"""Structured Streaming replay: availableNow drain == batch replay."""

import os

from embulk_input_mixpanel_spark.plans.metrics import read_lineage
from embulk_input_mixpanel_spark.plans.windows import BatchPlanner
from embulk_input_mixpanel_spark.runner import open_or_create, replay
from embulk_input_mixpanel_spark.sources.genevents import change_events
from embulk_input_mixpanel_spark.sources.lake import bucket_of
from embulk_input_mixpanel_spark.streaming.stream import stream_replay

from .oracle import engine_final_state, oracle_final_state


def test_stream_replay_matches_oracle(spark, tmp_table_dir, tmp_path):
    n = 1500
    ev = change_events(spark, n, n_repos=10, paths_per_repo=15, dup_rate=0.1, seed=3)
    src = str(tmp_path / "landing")
    # three landing files = three potential micro-batches
    ev.filter("event_seq % 3 = 0").write.mode("append").parquet(src)
    ev.filter("event_seq % 3 = 1").write.mode("append").parquet(src)
    ev.filter("event_seq % 3 = 2").write.mode("append").parquet(src)

    table = open_or_create(spark, tmp_table_dir, num_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    stream_replay(spark, table, src, ckpt, max_files_per_trigger=4)

    assert engine_final_state(table.read()) == oracle_final_state(ev.collect())
    assert table.version >= 1


def test_stream_replay_incremental_new_files(spark, tmp_table_dir, tmp_path):
    """New files after the first drain are picked up; old ones aren't redone."""
    n = 900
    ev = change_events(spark, n, n_repos=8, paths_per_repo=10, dup_rate=0.0, seed=9)
    src = str(tmp_path / "landing2")
    ckpt = str(tmp_path / "ckpt2")
    first = ev.filter("event_seq < 600")
    first.write.mode("append").parquet(src)

    table = open_or_create(spark, tmp_table_dir, num_buckets=8)
    stream_replay(spark, table, src, ckpt)
    v1 = table.version
    state1 = engine_final_state(table.read())
    assert state1 == oracle_final_state(first.collect())

    ev.filter("event_seq >= 600").write.mode("append").parquet(src)
    stream_replay(spark, table, src, ckpt)
    assert table.version > v1
    assert engine_final_state(table.read()) == oracle_final_state(ev.collect())



def _assert_counts(spark, table, row, survivors):
    """One lineage row against the events that survived into its batch."""
    keys = sorted({(r["repo"], r["path"]) for r in survivors})
    nb = table.snapshot(row["version"]).num_buckets
    ids = spark.createDataFrame(keys, "repo string, path string").select(
        bucket_of(nb, "repo", "path"))
    touched = sorted({r[0] for r in ids.collect()})
    assert row["keys_upserted"] == len(keys)
    assert row["touched_buckets"] == len(touched)
    after = table.read(version=row["version"], buckets=touched, include_tombstones=True).count()
    assert row["rows_in_touched_after"] == after


def test_lineage_counts_on_batch_and_stream(spark, tmp_path):
    """Batch replays and streaming epochs record the same real counts:
    ``keys_upserted`` is the distinct keys among a batch's surviving
    events and ``rows_in_touched_after`` the rows, tombstones included,
    of its touched buckets at the version it committed."""
    ev = change_events(spark, 1500, n_repos=10, paths_per_repo=15, dup_rate=0.1,
                       evolve_after=700, seed=17)
    src = str(tmp_path / "landing")
    # three landing files of different sizes: one streaming epoch each
    ranges = ((0, 400), (400, 900), (900, 1500))
    for lo, hi in ranges:
        ev.filter(f"event_seq >= {lo} AND event_seq < {hi}").coalesce(1).write.mode(
            "append").parquet(src)
    landed = spark.read.parquet(src)
    events = landed.collect()

    # batch: two runs, the second re-reading 300 events below the HWM
    bt = open_or_create(spark, str(tmp_path / "batch"), num_buckets=8)
    replay(bt, landed, upper_bound=900, slice_size=500)
    replay(bt, landed, upper_bound=1500, slice_size=500, backfill=300)
    rows = sorted(read_lineage(spark, bt.path).collect(), key=lambda r: r["version"])
    windows = [b for plan in (BatchPlanner(hwm=-1, upper_bound=900, slice_size=500),
                              BatchPlanner(hwm=900, upper_bound=1500, slice_size=500, backfill=300))
               for b in plan]
    assert len(rows) == len(windows) == 4
    hwm: dict[int, int] = {}
    skipped = 0
    for row, b in zip(rows, windows):
        assert row["batch_index"] == b.index
        bounded = [r for r in events if b.lo < r["event_seq"] <= b.hi]
        survivors = [r for r in bounded if r["event_seq"] > hwm.get(r["source_partition"], -1)]
        skipped += len(bounded) - len(survivors)
        _assert_counts(spark, bt, row, survivors)
        hwm = {int(k): v for k, v in row["hwm_after"].asDict().items() if v is not None}
    assert skipped > 0  # the backfill overlap really was skipped

    # stream: one epoch per landing file, every event survives; an
    # epoch's lineage row is matched to its file by rows_in
    st = open_or_create(spark, str(tmp_path / "stream"), num_buckets=8)
    stream_replay(spark, st, src, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    rows = read_lineage(spark, st.path).collect()
    files = {}
    for lo, hi in ranges:
        landed_rows = [r for r in events if lo <= r["event_seq"] < hi]
        files[len(landed_rows)] = landed_rows
    assert len(files) == 3
    assert sorted(r["rows_in"] for r in rows) == sorted(files)
    for row in rows:
        assert row["keys_upserted"] > 0 and row["rows_in_touched_after"] > 0
        _assert_counts(spark, st, row, files[row["rows_in"]])
    assert engine_final_state(st.read()) == engine_final_state(bt.read())
