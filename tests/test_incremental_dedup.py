"""Incremental cross-batch dedup: parity, O(batch) cost evidence,
crash roll-forward, redelivery idempotence, windowed-replay drive."""

import pytest
from pyspark.sql import functions as F

from embulk_input_mixpanel_spark.operators.dedup import jaccard_pairs_lsh
from embulk_input_mixpanel_spark.operators.incremental_dedup import IncrementalDeduper


def _pairs(df):
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _full_recompute(docs):
    return _pairs(
        jaccard_pairs_lsh(
            docs, threshold=0.85, n=3, k=24, n_bands=8, max_shingle_docs=None
        )
    )


def test_two_batch_parity_with_full_recompute(spark, docs, tmp_table_dir):
    """Union of per-batch outputs == one-shot recompute over the union
    corpus, with no pair reported twice (old-old pairs never re-emitted)."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    p1 = _pairs(dd.add_batch(docs.filter("doc_id % 2 = 0")))
    p2 = _pairs(dd.add_batch(docs.filter("doc_id % 2 = 1")))
    assert not set(p1) & set(p2)
    assert {**p1, **p2} == _full_recompute(docs)
    assert p2, "cross-batch (old-new) pairs must exist in this corpus"


def test_small_batch_cost_is_o_batch(spark, docs, tmp_table_dir):
    """After a 500-doc base load, a 5-doc increment must (a) shingle only
    its own docs, (b) prune the band-index read to a fraction of the lake
    buckets, and (c) read only the candidate docs' signature buckets —
    the O(batch) contract, asserted from the operator's own stats."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs)
    base = _full_recompute(docs)
    # 5 new docs: 3 exact copies of existing docs + 2 unique
    clones = docs.filter("doc_id < 3").select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    uniques = spark.createDataFrame(
        [(100_100, "wholly original text that matches nothing else at all xyzzy"),
         (100_101, "another completely unrelated string of words qwerty uiop")],
        ["doc_id", "text"],
    )
    stats = {}
    inc = _pairs(dd.add_batch(clones.unionByName(uniques), stats=stats))
    assert stats["n_new"] == 5
    assert stats["index_lake_buckets_read"] < stats["index_lake_buckets_total"], stats
    assert stats["index_files_read"] < stats["index_files_total"], stats
    assert stats["sig_lake_buckets_read"] < dd.sigs.num_buckets, stats
    # each clone pairs with its source doc at jaccard 1.0 (plus any docs
    # the source was already near-dup with)
    for src in (0, 1, 2):
        assert inc[(src, src + 100_000)] == 1.0
    assert not (set(inc) & set(base))


def test_crash_between_commits_rolls_forward(spark, docs, tmp_table_dir):
    """Die after the sigs commit but before the band-index commit; the
    next add_batch must roll the index forward from the dangling files,
    and old-new pairs against the crashed batch's docs must be found."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs.filter("doc_id < 200"))

    boom = RuntimeError("injected crash before index commit")
    real_append = dd.buckets.commit_append
    dd.buckets.commit_append = lambda *a, **k: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.add_batch(docs.filter("doc_id >= 200 and doc_id < 400"))
    dd.buckets.commit_append = real_append
    assert int(dd.sigs.properties["batch_seq"]) == 2
    assert int(dd.buckets.properties["batch_seq"]) == 1  # dangling

    # clone of a doc from the CRASHED batch: only findable if recovery
    # rebuilt that batch's index rows
    clone = spark.createDataFrame(
        [(300_000, docs.filter("doc_id = 250").first()["text"])], ["doc_id", "text"]
    )
    stats = {}
    inc = _pairs(dd.add_batch(clone, stats=stats))
    assert stats["recovered"] is True
    assert int(dd.buckets.properties["batch_seq"]) == 3
    assert inc[(250, 300_000)] == 1.0


def test_maintain_after_crash_recovers_before_compacting(spark, docs, tmp_table_dir):
    """The ADVICE-pinned hazard: maintain() running after a crash between
    the sigs and buckets commits must roll the dangling batch forward
    FIRST — compaction commits a new sigs snapshot, which would make a
    file-diff-based recovery rebuild the wrong rows (dangling docs
    missing from the index forever + compacted rows re-appended). The
    batch_seq-filter recovery + recover-inside-maintain close both."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs.filter("doc_id < 200"))
    dd.add_batch(docs.filter("doc_id >= 200 and doc_id < 300"))

    boom = RuntimeError("injected crash before index commit")
    real_append = dd.buckets.commit_append
    dd.buckets.commit_append = lambda *a, **k: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.add_batch(docs.filter("doc_id >= 300 and doc_id < 400"))
    dd.buckets.commit_append = real_append

    # maintenance runs FIRST after the crash (the hazardous ordering)
    st = dd.maintain(max_files_per_bucket=1, keep_snapshots=1)
    assert st["recovered"] == 1
    assert int(dd.buckets.properties["batch_seq"]) == 3
    # index rows were rebuilt exactly once per (band, doc): no bloat
    idx = dd.buckets.read()
    assert idx.count() == idx.select("band", "bk", "id").distinct().count()
    # and a clone of a doc from the crashed batch is still findable
    clone = spark.createDataFrame(
        [(300_000, docs.filter("doc_id = 350").first()["text"])], ["doc_id", "text"]
    )
    inc = _pairs(dd.add_batch(clone))
    assert inc[(350, 300_000)] == 1.0


def test_reopen_with_mismatched_params_raises(spark, docs, tmp_table_dir):
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs.filter("doc_id < 50"))
    with pytest.raises(ValueError, match="k=24"):
        IncrementalDeduper(spark, tmp_table_dir, k=16, n_bands=8)
    with pytest.raises(ValueError, match="n_bands"):
        IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=12)
    with pytest.raises(ValueError, match="portable"):
        IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, portable=True)
    # matching params reopen fine (threshold/caps are per-call knobs)
    IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.9)


def test_redelivered_pairs_rederives_original_output(spark, docs, tmp_table_dir):
    """Crash-after-commit-before-pair-write: rerunning the same batch
    must be able to reproduce the pairs it originally emitted, purely
    from durable store state (the bin/dedup.py exactly-once story)."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    b1 = docs.filter("doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 2 = 1")
    p1 = _pairs(dd.add_batch(b1))
    p2 = _pairs(dd.add_batch(b2))
    assert p2, "batch 2 must emit cross-batch pairs in this corpus"
    # store ingestion is a no-op on redelivery, but the original output
    # of EITHER batch is recomputable
    assert dd.add_batch(b2).count() == 0
    assert _pairs(dd.redelivered_pairs(b2)) == p2
    assert _pairs(dd.redelivered_pairs(b1)) == p1
    # never-ingested ids re-derive nothing
    ghost = spark.createDataFrame([(999_999, "xx")], ["doc_id", "text"])
    assert dd.redelivered_pairs(ghost).count() == 0


def test_redelivered_batch_is_noop(spark, docs, tmp_table_dir):
    """Replaying an already-ingested batch adds nothing (id anti-join) —
    at-least-once upstream delivery stays exactly-once in the store."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    b = docs.filter("doc_id % 2 = 0")
    dd.add_batch(b)
    v_sig, v_buck = dd.sigs.version, dd.buckets.version
    stats = {}
    again = dd.add_batch(b, stats=stats)
    assert again.count() == 0 and stats["n_new"] == 0
    # empty batch commits nothing at all
    assert (dd.sigs.version, dd.buckets.version) == (v_sig, v_buck)


def test_windowed_replay_drive(spark, docs, tmp_table_dir):
    """Drive the deduper through the CDC windowing machinery: BatchPlanner
    slices the doc_id axis exactly like replay slices event_seq; the union
    of per-window outputs equals the one-shot recompute."""
    from embulk_input_mixpanel_spark.plans.windows import BatchPlanner

    n_docs = docs.count()
    planner = BatchPlanner(hwm=-1, upper_bound=n_docs - 1, slice_size=100)
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    got = {}
    for batch in planner:
        window = docs.filter(
            (F.col("doc_id") > batch.lo) & (F.col("doc_id") <= batch.hi)
        )
        new_pairs = _pairs(dd.add_batch(window))
        assert not set(new_pairs) & set(got)
        got.update(new_pairs)
    assert got == _full_recompute(docs.filter(F.col("doc_id") <= n_docs - 1))


def test_maintain_compacts_index_without_changing_results(spark, docs, tmp_table_dir):
    """After many small batches the band index holds O(batches) files per
    lake bucket; maintain() compacts them to O(1) and expires superseded
    snapshots — and the NEXT batch's pair output is unchanged (compaction
    is physical; parity pinned against the uncompacted full recompute)."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    got = {}
    for lo, hi in ((0, 100), (100, 200), (200, 300), (300, 400)):
        got.update(_pairs(dd.add_batch(
            docs.filter(f"doc_id >= {lo} and doc_id < {hi}")
        )))
    files_before = sum(len(fl) for fl in dd.buckets.snapshot().files.values())
    st = dd.maintain(max_files_per_bucket=1, keep_snapshots=1)
    files_after = sum(len(fl) for fl in dd.buckets.snapshot().files.values())
    assert st["buckets_buckets_compacted"] >= 1 and st["buckets_files_expired"] >= 1
    assert files_after < files_before
    buckets_per = [len(fl) for fl in dd.buckets.snapshot().files.values()]
    assert max(buckets_per) == 1, "each lake bucket should hold one file post-compact"

    got.update(_pairs(dd.add_batch(docs.filter("doc_id >= 400"))))
    assert got == _full_recompute(docs)


def test_streaming_feed_drives_incremental_dedup(spark, docs, tmp_table_dir, tmp_path):
    """Deployment shape: a Structured-Streaming tail of a docs landing
    directory feeds the deduper one micro-batch at a time (foreachBatch).
    The union of per-epoch pair outputs equals the one-shot recompute —
    the same composition contract as stream_replay vs batch replay."""
    src = str(tmp_path / "docs_landing")
    for m in range(3):
        docs.filter(f"doc_id % 3 = {m}").coalesce(1).write.mode("append").parquet(src)

    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    got = {}

    def _apply(batch_df, epoch_id):
        pairs = _pairs(dd.add_batch(batch_df))
        assert not set(pairs) & set(got), "no pair reported twice across epochs"
        got.update(pairs)

    (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert got == _full_recompute(docs)


def _boiler_docs(spark, ids, header, tail_fn):
    rows = [(i, f"{header} {tail_fn(i)}") for i in ids]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_persistent_df_cap_bounds_boilerplate_and_saves_recall(spark, tmp_table_dir, tmp_path):
    """601 docs share a 28-word license-header boilerplate; one doc
    (9999) is a true clone of doc 450. Uncapped, every doc pairs with
    every doc through the header (~163k candidate pairs — the quadratic
    blowup). With the persistent df-cap the header shingles are excluded
    from signatures, candidates collapse to exactly the one true pair,
    and a fresh-store single batch is BIT-IDENTICAL to the batch
    operator's df-cap (jaccard_pairs_lsh max_shingle_docs) — the exact
    oracle for the capped semantics."""
    from embulk_input_mixpanel_spark.operators.dedup import jaccard_pairs_lsh

    header = (
        "permission is hereby granted free of charge to any person obtaining "
        "a copy of this software and associated documentation files to deal "
        "in the software without restriction"
    )
    uniq = lambda i: (
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}"
    )
    corpus = _boiler_docs(
        spark, list(range(600)) + [9999], header,
        lambda i: uniq(450 if i == 9999 else i),
    )

    # exact parity: fresh store + one batch == the batch-mode df-cap
    dd_one = IncrementalDeduper(
        spark, str(tmp_path / "one"), k=24, n_bands=8, threshold=0.5,
        max_shingle_docs=100,
    )
    p_one = _pairs(dd_one.add_batch(corpus))
    want = _pairs(jaccard_pairs_lsh(
        corpus, threshold=0.5, n=3, k=24, n_bands=8, max_shingle_docs=100
    ))
    assert p_one == want
    assert p_one == {(450, 9999): 1.0}

    # control: NO df-cap -> boilerplate-driven quadratic candidate blowup
    ctl = IncrementalDeduper(spark, str(tmp_path / "ctl"), k=24, n_bands=8,
                             threshold=0.5)
    stats_ctl = {}
    ctl.add_batch(corpus, stats=stats_ctl)
    assert stats_ctl["n_candidates"] > 100_000, stats_ctl

    # capped cross-batch: both batches drop the header (df > cap), so
    # candidates stay exactly the true near-dups across the store
    dd = IncrementalDeduper(
        spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5,
        max_shingle_docs=100,
    )
    s1, s2 = {}, {}
    p1 = _pairs(dd.add_batch(corpus.filter("doc_id < 300"), stats=s1))
    p2 = _pairs(dd.add_batch(corpus.filter("doc_id >= 300"), stats=s2))
    assert s1["n_candidates"] == 0 and not p1
    assert s2["n_candidates"] == 1 and p2 == {(450, 9999): 1.0}
    assert int(dd.dfreq.properties["batch_seq"]) == 2

    # reopen validation covers the cap too (a capped store reopened
    # uncapped would silently diverge signatures)
    with pytest.raises(ValueError, match="max_shingle_docs"):
        IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5)


def test_df_cap_crash_before_dfreq_commit_rolls_forward(spark, tmp_table_dir):
    """Die after the buckets commit but before the dfreq commit: the next
    add_batch must rebuild the dangling batch's df deltas from its stored
    post-cap shingle sets (pure function of durable state)."""
    header = "copyright notice and this permission notice shall be included in all copies"
    dd = IncrementalDeduper(
        spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5,
        max_shingle_docs=100,
    )
    dd.add_batch(_boiler_docs(spark, range(60), header, lambda i: f"u{i} v{i} w{i}"))

    boom = RuntimeError("injected crash before dfreq commit")
    real_append = dd.dfreq.commit_append
    dd.dfreq.commit_append = lambda *a, **k: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.add_batch(_boiler_docs(spark, range(60, 120), header, lambda i: f"u{i} v{i} w{i}"))
    dd.dfreq.commit_append = real_append
    assert int(dd.sigs.properties["batch_seq"]) == 2
    assert int(dd.dfreq.properties["batch_seq"]) == 1  # dangling

    stats = {}
    dd.add_batch(_boiler_docs(spark, range(120, 130), header, lambda i: f"u{i} v{i} w{i}"),
                 stats=stats)
    assert stats["recovered"] is True
    assert int(dd.dfreq.properties["batch_seq"]) == 3
    # stored df for a header shingle == number of docs whose SIGS hold it
    # (the drifting-belt semantics): batch1 kept it (60 <= 100, delta 60),
    # batch2 saw 60+60 > 100 and dropped it (delta 0), batch3 saw 60+10
    # <= 100 and kept it (delta 10) -> 70
    total = (
        dd.dfreq.read().groupBy("sh").agg(F.sum("cnt").alias("c"))
        .agg(F.max("c")).first()[0]
    )
    assert total == 70


def test_cap_enable_upgrade_backfills_dfreq(spark, tmp_table_dir):
    """ADVICE r4: enabling max_shingle_docs on a store ingested WITHOUT
    the cap used to brick recover() ('dedup store corrupt' whenever sigs
    batch_seq >= 2). The upgrade now works: reopen-with-cap creates
    dfreq, stamps the cap, and the next add_batch's recover() backfills
    the df deltas from ALL stored signature sets — so boilerplate that is
    already corpus-hot is dropped from the very first post-upgrade
    batch's signatures."""
    header = (
        "permission is hereby granted free of charge to any person obtaining "
        "a copy of this software and associated documentation files to deal "
        "in the software without restriction"
    )
    uniq = lambda i: (
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}"
    )
    corpus = _boiler_docs(spark, range(600), header, uniq)

    dd0 = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5)
    dd0.add_batch(corpus.filter("doc_id < 300"))
    dd0.add_batch(corpus.filter("doc_id >= 300"))

    # the upgrade reopen (pre-fix: ValueError / bricked recover)
    dd = IncrementalDeduper(
        spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5,
        max_shingle_docs=100,
    )
    assert int(dd.dfreq.properties["batch_seq"]) == 0
    # the cap is stamped: a DIFFERENT cap (or uncapped) reopen now raises
    with pytest.raises(ValueError, match="max_shingle_docs"):
        IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8,
                           threshold=0.5, max_shingle_docs=50)
    with pytest.raises(ValueError, match="max_shingle_docs"):
        IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5)

    # two post-upgrade clones of each other: their signatures drop the
    # (backfilled-hot) header, so they pair on their shared tail alone —
    # and the candidate set stays tiny instead of the 600-doc blowup
    newbies = _boiler_docs(spark, [10_001, 10_002], header, lambda i: uniq(7777))
    stats = {}
    pairs = _pairs(dd.add_batch(newbies, stats=stats))
    assert stats["recovered"] is True
    assert int(dd.dfreq.properties["batch_seq"]) == 3
    assert stats["n_candidates"] <= 5, stats
    assert pairs == {(10_001, 10_002): 1.0}
    # backfilled df counts every stored doc holding the header shingles
    top_df = (
        dd.dfreq.read().groupBy("sh").agg(F.sum("cnt").alias("c"))
        .agg(F.max("c")).first()[0]
    )
    assert top_df == 600


def test_delete_masks_pairs_and_blocks_reingest(spark, docs, tmp_table_dir):
    """Takedown (VERDICT r4 missing #1): after delete(ids), (a) new
    batches emit no pairs against the deleted docs, (b) redelivered_pairs
    excludes pairs with a deleted endpoint, (c) a redelivered deleted doc
    is NOT re-ingested, (d) delete is idempotent, and (e) purge_deleted
    physically drops the rows while changing no live result."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    b1 = docs.filter("doc_id % 2 = 0")
    p1 = _pairs(dd.add_batch(b1))
    assert p1, "base corpus must contain near-dups for this test"
    # delete one endpoint of a known pair
    victim = sorted(p1)[0][0]
    assert dd.delete([victim]) == 1
    assert dd.delete([victim]) == 0  # idempotent
    assert dd.delete(docs.filter(f"doc_id = {victim}")) == 0  # df form too

    # (c) redelivery of the deleted doc: NOT re-ingested
    stats = {}
    dd.add_batch(docs.filter(f"doc_id = {victim}"), stats=stats)
    assert stats["n_new"] == 0

    # (a) an exact clone of the deleted doc arrives: no pair against it
    clone = docs.filter(f"doc_id = {victim}").select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    inc = _pairs(dd.add_batch(clone))
    assert not any(victim in p for p in inc), inc

    # (b) re-derived pairs for the original batch exclude the victim
    rp = _pairs(dd.redelivered_pairs(b1))
    assert rp == {p: j for p, j in p1.items() if victim not in p}

    # (e) physical purge drops the victim's rows, keeps everything else
    before_live = {p: j for p, j in _pairs(dd.redelivered_pairs(b1)).items()}
    st = dd.maintain(max_files_per_bucket=1, keep_snapshots=1)
    assert st["purged_ids"] == 1
    assert st["sig_buckets_rewritten"] >= 1 and st["index_buckets_rewritten"] >= 1
    assert dd.sigs.read().filter(F.col("id") == victim).count() == 0
    assert dd.buckets.read().filter(F.col("id") == victim).count() == 0
    assert _pairs(dd.redelivered_pairs(b1)) == before_live
    # purge watermark advanced; second maintain purges nothing
    assert dd.maintain()["purged_ids"] == 0
    # still blocked from re-ingest AFTER the purge (registry is memory)
    stats = {}
    dd.add_batch(docs.filter(f"doc_id = {victim}"), stats=stats)
    assert stats["n_new"] == 0


def test_delete_purge_crash_windows_are_idempotent(spark, docs, tmp_table_dir):
    """Crash between the purge's index rewrite and sigs rewrite: rerun
    completes the purge without bloat or loss (every step is a pure
    function of durable state; the watermark advances last)."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs.filter("doc_id < 200"))
    dd.delete([0, 1, 2])

    boom = RuntimeError("injected crash mid-purge")
    real_rewrite = dd.sigs.commit_rewrite
    dd.sigs.commit_rewrite = lambda *a, **k: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.purge_deleted()
    dd.sigs.commit_rewrite = real_rewrite
    # index already rewritten, sigs not, watermark NOT advanced
    assert int(dd.deleted.properties["purged_seq"]) == 0
    assert dd.buckets.read().filter(F.col("id") < 3).count() == 0
    assert dd.sigs.read().filter(F.col("id") < 3).count() == 3

    st = dd.purge_deleted()
    assert st["purged_ids"] == 3
    assert int(dd.deleted.properties["purged_seq"]) == 1
    assert dd.sigs.read().filter(F.col("id") < 3).count() == 0
    # no row bloat anywhere: index rows still unique
    idx = dd.buckets.read()
    assert idx.count() == idx.select("band", "bk", "id").distinct().count()
    # df-cap store parity: deleting ahead of delivery blocks ingestion
    ghost_stats = {}
    dd.delete([777_777])
    dd.add_batch(
        spark.createDataFrame([(777_777, "never to be stored zq")], ["doc_id", "text"]),
        stats=ghost_stats,
    )
    assert ghost_stats["n_new"] == 0


def test_purge_racing_ingest_never_erases_append(spark, docs, tmp_table_dir):
    """A purge's full-bucket rewrites are pinned to the version their
    keep-set was read at: an add_batch landing mid-purge makes the purge
    ABORT (rerun later) instead of silently erasing the racer's freshly
    appended rows."""
    from embulk_input_mixpanel_spark.sources.lake import ConcurrentCommitError

    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs.filter("doc_id < 200"))
    dd.delete([0, 1])

    racer = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    late = docs.filter("doc_id >= 200 and doc_id < 300")
    real_rewrite = dd.buckets.commit_rewrite

    def inject(df, *a, **kw):
        dd.buckets.commit_rewrite = real_rewrite
        racer.add_batch(late)
        return real_rewrite(df, *a, **kw)

    dd.buckets.commit_rewrite = inject
    with pytest.raises(ConcurrentCommitError):
        dd.purge_deleted()
    dd.buckets.commit_rewrite = real_rewrite

    # the racer's batch survived in full
    assert dd.sigs.read().filter("id >= 200 and id < 300").count() == 100
    # the rerun completes the purge without touching the racer's rows
    st = dd.purge_deleted()
    assert st["purged_ids"] == 2
    assert dd.sigs.read().filter("id IN (0, 1)").count() == 0
    assert dd.sigs.read().filter("id >= 200 and id < 300").count() == 100


def test_delete_updates_dfreq_on_purge(spark, tmp_table_dir):
    """With the persistent df-cap, purging deleted docs appends negative
    df deltas so the belt stops counting their shingles."""
    header = "this header is shared by every single document in the corpus here"
    dd = IncrementalDeduper(
        spark, tmp_table_dir, k=24, n_bands=8, threshold=0.5,
        max_shingle_docs=1000,
    )
    dd.add_batch(_boiler_docs(spark, range(40), header, lambda i: f"u{i} v{i} w{i}"))
    top = (
        dd.dfreq.read().groupBy("sh").agg(F.sum("cnt").alias("c"))
        .agg(F.max("c")).first()[0]
    )
    assert top == 40
    dd.delete(range(10))
    dd.purge_deleted()
    top = (
        dd.dfreq.read().groupBy("sh").agg(F.sum("cnt").alias("c"))
        .agg(F.max("c")).first()[0]
    )
    assert top == 30


def test_two_batch_parity_portable_tier(spark, docs, tmp_table_dir):
    """The md5-affine portable hash tier satisfies the same union==one-shot
    contract as the xxhash64 engine tier (both tiers share the store
    format; only the MinHash family differs)."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8,
                            threshold=0.85, portable=True)
    p1 = _pairs(dd.add_batch(docs.filter("doc_id % 2 = 0")))
    p2 = _pairs(dd.add_batch(docs.filter("doc_id % 2 = 1")))
    want = _pairs(jaccard_pairs_lsh(
        docs, threshold=0.85, n=3, k=24, n_bands=8,
        max_shingle_docs=None, portable=True))
    assert {**p1, **p2} == want and want


def test_maintain_compacts_the_takedown_registry(spark, docs, tmp_table_dir):
    """Each delete() adds a file per registry bucket it touches, and every
    add_batch known-id mask opens them: maintain() compacts the registry
    with the other tables, and the takedowns still mask afterwards."""
    dd = IncrementalDeduper(spark, tmp_table_dir, num_buckets=4)
    dd.add_batch(docs.filter("doc_id < 100"))
    for i in range(3):  # 40 ids over 4 buckets: every bucket, every call
        assert dd.delete(range(i * 40, i * 40 + 40)) == 40
    assert [len(fl) for fl in dd.deleted.snapshot().files.values()] == [3] * 4
    st = dd.maintain(max_files_per_bucket=2)
    assert st["deleted_buckets_compacted"] == 4 and st["deleted_files_out"] == 4
    assert [len(fl) for fl in dd.deleted.snapshot().files.values()] == [1] * 4
    assert dd.deleted.read().count() == 120
    # purged from the store, blocked from re-ingest, still known to delete()
    assert dd.sigs.read().filter("id < 120").count() == 0
    stats = {}
    dd.add_batch(docs.filter("doc_id < 120"), stats=stats)
    assert stats["n_new"] == 0
    assert dd.delete(range(120)) == 0
