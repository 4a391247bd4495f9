"""``store_trickle``: 25-row deltas into both incremental stores.

Set-up generates a seeded corpus (``BASE_DOCS`` documents of word text,
``BASE_VECS`` 64-dimension embeddings around ``CENTERS`` centres), builds
an ``IncrementalDeduper`` and an ``IncrementalANN`` from it and runs one
probe. The window is a whole number of maintain cycles (the number
nearest ``--seconds``, at least one); a cycle is ``ROUNDS_PER_CYCLE``
rounds followed by ``maintain()`` on both stores, so every run samples
the file-count sawtooth at the same points. A round is one 25-document
``add_batch`` on the dedup store (each document a copy of a seeded
choice of stored document, under a new id), one 25-vector ``add_batch``
on the ANN store, and one ``topk`` probe for ``QUERIES`` stored vectors.

This loads ``operators.incremental_*`` and ``LakeTable.commit_append`` /
``compact`` and bypasses ``operators.apply`` and ``operators.merge``.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Ledger, median, p75

BASE_DOCS = 500
BASE_VECS = 500
DIM = 64
CENTERS = 8
VOCAB = 400
ROUND = 25
ROUNDS_PER_CYCLE = 1
MAX_CYCLES = 3
MAX_FILES_PER_BUCKET = 1
K = 10
N_PROBE = 2
QUERIES = 3
NEW_IDS = 10_000_000

BYPASSES = (
    "apply.jobs_per_batch", "apply.stages_per_batch", "apply.tasks_per_batch",
    "apply.shuffle_write_bytes_per_batch", "apply.metrics_pct", "apply.discovery_pct",
    "apply.merge_write_pct", "checkpoint.get_hwm_map_pct", "checkpoint.get_cursor_pct",
    "lake.commit_rewrite_pct", "lake.bytes_written_per_batch",
    "lake.buckets_touched_per_batch", "lake.lookup_pct", "lake.lookup_files_read",
)


class Corpus:
    """Seeded documents, vectors and per-round inputs."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, size=int(rng.integers(3, 9)))) for _ in range(VOCAB)]
        freq = 1.0 / np.arange(1, VOCAB + 1)
        freq /= freq.sum()
        self.docs = [
            (i, " ".join(rng.choice(vocab, size=int(rng.integers(30, 80)), p=freq)))
            for i in range(BASE_DOCS)
        ]
        self.centers = rng.normal(size=(CENTERS, DIM))
        self.rng = rng
        self.vecs = self._vectors(0, BASE_VECS)

    def _vectors(self, first_id: int, n: int) -> list[tuple]:
        labels = self.rng.integers(0, CENTERS, size=n)
        v = (self.centers[labels] + 0.35 * self.rng.normal(size=(n, DIM))).astype(np.float32)
        return [(first_id + i, [float(x) for x in row]) for i, row in enumerate(v)]

    def round(self, r: int) -> tuple[list[tuple], list[tuple[int, int]], list[tuple], list[int]]:
        """Round ``r``: new documents, their (source, copy) id pairs, new
        vectors, and the stored vector ids to probe."""
        first = NEW_IDS + r * ROUND
        src = self.rng.choice(BASE_DOCS, size=ROUND, replace=False)
        docs = [(first + j, self.docs[int(s)][1]) for j, s in enumerate(src)]
        pairs = [(int(s), first + j) for j, s in enumerate(src)]
        queries = [int(q) for q in self.rng.choice(BASE_VECS, size=QUERIES, replace=False)]
        return docs, pairs, self._vectors(first, ROUND), queries


def store_trickle(run) -> None:
    from embulk_input_mixpanel_spark.operators.incremental_ann import IncrementalANN
    from embulk_input_mixpanel_spark.operators.incremental_dedup import IncrementalDeduper
    from embulk_input_mixpanel_spark.sources.lake import LakeTable

    spark, tr = run.spark, run.tracer
    run.mark("session")
    corpus = Corpus(run.seed)
    n_written = itertools.count()

    def staged(rows: list[tuple], kind: str):
        """``rows`` as a parquet file the store reads, like a landed batch."""
        cols = ("doc_id", "text") if kind == "docs" else ("vec_id", "embedding")
        typ = pa.string() if kind == "docs" else pa.list_(pa.float32())
        table = pa.table({cols[0]: pa.array([r[0] for r in rows], pa.int64()),
                          cols[1]: pa.array([r[1] for r in rows], typ)})
        path = os.path.join(run.work, "input", f"{kind}-{next(n_written)}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return spark.read.parquet(path)

    run.mark("corpus")

    tr.wrap(LakeTable, "snapshot", "lake.snapshot", jobs=False)
    tr.wrap(LakeTable, "commit_append", "lake.commit_append")
    tr.wrap(LakeTable, "compact", "lake.compact")
    tr.wrap(IncrementalDeduper, "recover", "dedup.recover")
    tr.wrap(IncrementalANN, "recover", "ann.recover")

    dd = IncrementalDeduper(spark, os.path.join(run.work, "dedup"))
    ann = IncrementalANN(spark, os.path.join(run.work, "ann"))
    dd.add_batch(staged(corpus.docs, "docs"))
    run.mark("dedup_build")
    ann.add_batch(staged(corpus.vecs, "vecs"))
    ann.topk(query_ids=[0], k=K, n_probe=N_PROBE).collect()
    run.mark("ann_build")

    rounds = []
    for r in range(ROUNDS_PER_CYCLE * MAX_CYCLES):
        docs, pairs, vecs, queries = corpus.round(r)
        rounds.append((staged(docs, "docs"), pairs, staged(vecs, "vecs"), queries))

    ledger = Ledger(
        {f"dedup.{n}": getattr(dd, n) for n in ("sigs", "buckets", "deleted")}
        | {f"ann.{n}": getattr(ann, n) for n in ("cent", "vectors", "ids", "deleted")}
    )
    acc = {
        "bytes": 0, "rows": 0, "compact_bytes": 0, "files_max": 0, "probe_files": 0,
        "timings": {}, "rdds": [],
    }

    def after_store_call() -> int:
        written = ledger.take()
        if run.in_window:
            acc["bytes"] += written
            if tr.enabled:
                acc["rdds"].append(run.persistent_rdds())
        return written

    def one_round(r: int) -> None:
        docs_df, pairs, vecs_df, queries = rounds[r]
        st_dd, st_probe = {}, {}

        def paired(rows):
            got = {(row["id_a"], row["id_b"]) for row in rows}
            lost = [p for p in pairs if (min(p), max(p)) not in got]
            return f"round {r}: copies not paired with their source: {lost[:5]}" if lost else None

        run.op("dedup.add_batch", lambda: dd.add_batch(docs_df, stats=st_dd).collect(), paired)
        after_store_call()
        run.op(
            "ann.add_batch",
            lambda: ann.add_batch(vecs_df),
            lambda n: None if n == ROUND else f"round {r}: ANN ingested {n} of {ROUND}",
        )
        after_store_call()

        def full(rows):
            per_q = {q: sorted(row["rnk"] for row in rows if row["query_id"] == q) for q in queries}
            bad = {q: len(v) for q, v in per_q.items() if v != list(range(1, K + 1))}
            return f"round {r}: topk rows per query {bad}, wanted {K}" if bad else None

        run.op(
            "ann.topk",
            lambda: ann.topk(query_ids=queries, k=K, n_probe=N_PROBE, stats=st_probe).collect(),
            full,
        )
        after_store_call()
        if run.in_window:
            acc["rows"] += 2 * ROUND
            acc["probe_files"] += st_probe.get("files_read", 0)
            for k, v in st_dd.get("timings", {}).items():
                acc["timings"][k] = acc["timings"].get(k, 0.0) + v
            acc["files_max"] = max(acc["files_max"], ledger.max_files_per_bucket())

    def maintain() -> None:
        for name, store in (("dedup.maintain", dd), ("ann.maintain", ann)):
            run.op(name, lambda: store.maintain(max_files_per_bucket=MAX_FILES_PER_BUCKET))
            written = after_store_call()
            if run.in_window:
                acc["compact_bytes"] += written

    r = 0

    def cycle() -> None:
        nonlocal r
        for _ in range(ROUNDS_PER_CYCLE):
            one_round(r)
            r += 1
        maintain()

    cycles = 0
    with run.window():
        while True:
            began = run.elapsed()
            cycle()
            cycles += 1
            cycle_s = run.elapsed() - began
            # stop at the whole number of cycles nearest --seconds
            if cycles == MAX_CYCLES or run.elapsed() + cycle_s / 2 > run.seconds:
                break

    run.common_metrics(acc["rows"], acc["bytes"])
    m = run.report["metrics"]
    s = run.samples
    rounds_s = [a + b for a, b in zip(s["dedup.add_batch"], s["ann.add_batch"])]
    m.update(
        batch_p50_s=median(rounds_s),
        batch_p75_s=p75(rounds_s),
        read_p50_s=median(s["ann.topk"]),
        dedup_add_p50_s=median(s["dedup.add_batch"]),
        ann_add_p50_s=median(s["ann.add_batch"]),
        ann_probe_p50_s=median(s["ann.topk"]),
    )
    run.report.update(rounds=r, cycles=cycles)
    if not tr.enabled:
        return

    ops = ["dedup.add_batch", "ann.add_batch", "ann.topk", "dedup.maintain", "ann.maintain"]
    layers = run.layer_metrics(ops)
    spans = run.report["spans"]

    def per_call(op: str, key: str) -> float:
        calls = [sp for sp in tr.within(run.root) if sp.name == op and sp.parent == run.root.sid]
        return sum(tr.inclusive(sp)[key] for sp in calls) / len(calls)

    def span_share(name: str) -> float:
        return run.share(spans.get(name, {}).get("self_s", 0.0))

    n_calls = r * 3 + cycles * 2
    layers.update(
        {
            "lake.snapshot_pct": span_share("lake.snapshot"),
            "lake.snapshot_reads_per_op": spans.get("lake.snapshot", {}).get("calls", 0) / n_calls,
            "lake.commit_append_pct": span_share("lake.commit_append"),
            "lake.compact_pct": span_share("lake.compact"),
            "lake.compact_bytes_rewritten": acc["compact_bytes"] / cycles,
            "lake.files_per_bucket_max": acc["files_max"],
            "dedup.jobs_per_batch": per_call("dedup.add_batch", "jobs"),
            "dedup.stages_per_batch": per_call("dedup.add_batch", "stages"),
            "dedup.recover_pct": span_share("dedup.recover"),
            **{f"dedup.{k}_pct": run.share(v) for k, v in acc["timings"].items()},
            "ann.jobs_per_batch": per_call("ann.add_batch", "jobs"),
            "ann.probe_jobs": per_call("ann.topk", "jobs"),
            "ann.probe_files_read": acc["probe_files"] / r,
            "spark.persistent_rdds": acc["rdds"][-1],
            "spark.persistent_rdds_max": max(acc["rdds"]),
        }
    )
    run.report["per_layer"] = layers
    run.report["persistent_rdds_after_each_call"] = acc["rdds"]
