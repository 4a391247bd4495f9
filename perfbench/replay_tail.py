"""``replay_tail``: small incremental deltas on a backfilled table.

Set-up stages a seeded change stream as parquet (range-partitioned and
sorted on ``event_seq``, as ``bench.py`` does), backfills ``BASE`` events
into an empty 16-bucket table, and runs ``WARM`` tail batches. The window
is then a closed loop of ``BATCH``-event ``replay`` calls, each followed
by one ``LakeTable.lookup`` of a key that batch wrote, until ``--seconds``
have passed and at least ``MIN_BATCHES`` batches ran.

A 2k-event batch touches all 16 buckets, so every commit copies the whole
live table; the per-batch fixed cost (planning, manifest reads, eight
Spark jobs under adaptive execution, the manifest swap) dominates.
"""

from __future__ import annotations

import os

import oracle
from harness import Ledger, median, p75

BASE = 40_000
BATCH = 2_000
WARM = 5
MIN_BATCHES = 6
MAX_BATCHES = 30
BUCKETS = 16
N_REPOS = 100
PATHS_PER_REPO = 500

BYPASSES = (
    "lake.commit_append_pct", "lake.compact_pct", "lake.compact_bytes_rewritten",
    "dedup.jobs_per_batch", "dedup.stages_per_batch", "dedup.recover_pct",
    "dedup.prune_pct", "dedup.signatures_pct", "dedup.band_keys_pct",
    "dedup.candidates_pct", "dedup.rescore_pct", "dedup.commits_pct",
    "ann.jobs_per_batch", "ann.probe_jobs", "ann.probe_files_read",
)


def replay_tail(run) -> None:
    from embulk_input_mixpanel_spark.plans import checkpoint
    from embulk_input_mixpanel_spark.operators import apply as apply_mod
    from embulk_input_mixpanel_spark import runner
    from embulk_input_mixpanel_spark.runner import open_or_create, replay
    from embulk_input_mixpanel_spark.sources.genevents import change_events
    from embulk_input_mixpanel_spark.sources.lake import LakeTable

    spark, tr = run.spark, run.tracer
    run.mark("session")
    n_events = BASE + (WARM + MAX_BATCHES) * BATCH
    ev = change_events(
        spark, n_events, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
        dup_rate=0.1, evolve_after=BASE // 2, seed=run.seed,
    )
    stream_path = os.path.join(run.work, "stream")
    (
        ev.repartitionByRange(8, "event_seq")
        .sortWithinPartitions("event_seq")
        .write.parquet(stream_path)
    )
    stream = spark.read.parquet(stream_path)
    run.mark("stage_stream")
    expect = oracle.lookup_expectations(stream_path, BASE, BATCH, WARM + MAX_BATCHES)
    run.mark("reference")

    # layer spans inside the public calls (traced runs only)
    tr.wrap(LakeTable, "snapshot", "lake.snapshot", jobs=False)
    tr.wrap(LakeTable, "commit_rewrite", "lake.commit_rewrite")
    tr.wrap(apply_mod, "get_hwm_map", "checkpoint.get_hwm_map", jobs=False)
    tr.wrap(apply_mod, "get_cursor", "checkpoint.get_cursor", jobs=False)
    tr.wrap(runner, "get_cursor", "checkpoint.get_cursor", jobs=False)

    table = open_or_create(spark, os.path.join(run.work, "repo_files"), num_buckets=BUCKETS)
    replay(table, stream, upper_bound=BASE, slice_size=BASE)
    run.mark("backfill")

    ledger = Ledger({"repo_files": table})
    stats = {"rows": 0, "bytes": 0, "buckets": 0, "lookup_files": 0, "rdds": []}
    timings = {"metrics": 0.0, "discovery": 0.0, "merge_write": 0.0}

    def step(i: int) -> None:
        hi = BASE + (i + 1) * BATCH

        def committed(rep):
            if len(rep.batches) != 1 or not rep.batches[0].committed:
                return f"batch {i} did not commit exactly once"
            return None

        rep = run.op(
            "replay",
            lambda: replay(table, stream, upper_bound=hi, slice_size=BATCH),
            committed,
        )
        written = ledger.take()
        repo, path, seq, sha = expect[i]
        looked = {}

        def lookup():
            df = table.lookup({"repo": repo, "path": path})
            looked["df"] = df
            return df.select("event_seq", "content_sha").collect()

        def wrote(rows):
            got = [(r["event_seq"], r["content_sha"]) for r in rows]
            return None if got == [(seq, sha)] else f"lookup {repo}:{path} gave {got}, wanted {[(seq, sha)]}"

        run.op("lookup", lookup, wrote)
        if run.in_window and rep is not None:
            b = rep.batches[0]
            stats["rows"] += b.rows_in
            stats["bytes"] += written
            stats["buckets"] += b.touched_buckets
            for k in timings:
                timings[k] += b.extra.get("timings", {}).get(k, 0.0)
            if tr.enabled:
                stats["lookup_files"] += len(looked["df"].inputFiles()) if "df" in looked else 0
                stats["rdds"].append(run.persistent_rdds())

    for i in range(WARM):
        step(i)
    run.mark("warm_up")

    i = WARM
    with run.window():
        while i < WARM + MAX_BATCHES and (
            run.elapsed() < run.seconds or i - WARM < MIN_BATCHES
        ):
            step(i)
            i += 1
    n = i - WARM

    # the whole table against the reference, after the window
    cursor = checkpoint.get_cursor(table)
    diff = oracle.table_mismatches(stream_path, table.path, table.snapshot().all_files(), cursor)
    if diff["missing"] or diff["unexpected"] or cursor != BASE + n * BATCH + WARM * BATCH:
        run.fail("final_table", f"cursor {cursor}, {diff}")

    run.common_metrics(stats["rows"], stats["bytes"])
    m = run.report["metrics"]
    batch, look = run.samples["replay"], run.samples["lookup"]
    m.update(
        batch_p50_s=median(batch),
        batch_p75_s=p75(batch),
        read_p50_s=median(look),
        lookup_p50_s=median(look),
    )
    run.report.update(batches=n, final_check=diff)
    if not tr.enabled:
        return

    layers = run.layer_metrics(["replay", "lookup"])
    spans = run.report["spans"]
    replay_spans = [s for s in tr.within(run.root) if s.name == "replay"]
    incl = [tr.inclusive(s) for s in replay_spans]

    def per_batch(key: str) -> float:
        return sum(x[key] for x in incl) / n

    def span_share(name: str) -> float:
        return run.share(spans.get(name, {}).get("self_s", 0.0))

    def calls_per_batch(name: str) -> float:
        return spans.get(name, {}).get("calls", 0) / n

    layers.update(
        {
            "apply.jobs_per_batch": per_batch("jobs"),
            "apply.stages_per_batch": per_batch("stages"),
            "apply.tasks_per_batch": per_batch("tasks"),
            "apply.shuffle_write_bytes_per_batch": per_batch("shuffle_write_bytes"),
            "apply.metrics_pct": run.share(timings["metrics"]),
            "apply.discovery_pct": run.share(timings["discovery"]),
            "apply.merge_write_pct": run.share(timings["merge_write"]),
            "checkpoint.get_hwm_map_pct": span_share("checkpoint.get_hwm_map"),
            "checkpoint.get_cursor_pct": span_share("checkpoint.get_cursor"),
            "lake.snapshot_pct": span_share("lake.snapshot"),
            "lake.snapshot_reads_per_op": calls_per_batch("lake.snapshot"),
            "lake.commit_rewrite_pct": span_share("lake.commit_rewrite"),
            "lake.bytes_written_per_batch": stats["bytes"] / n,
            "lake.buckets_touched_per_batch": stats["buckets"] / n,
            "lake.lookup_pct": run.share(spans["lookup"]["wall_s"]),
            "lake.lookup_files_read": stats["lookup_files"] / n,
            "lake.files_per_bucket_max": ledger.max_files_per_bucket(),
            "spark.persistent_rdds": stats["rdds"][-1],
            "spark.persistent_rdds_max": max(stats["rdds"]),
        }
    )
    run.report["per_layer"] = layers
