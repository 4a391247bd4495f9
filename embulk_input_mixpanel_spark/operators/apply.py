"""apply_batch — one micro-batch through the full CDC pipeline.

Pipeline (each stage cites its reference analog):

1. **bounds filter** — ``lo < event_seq <= hi`` (incremental-bounds
   predicate + upper-bound lock; reference:
   lib/embulk/input/service/export_service.rb:212-217,239-243). Pure
   predicate → Catalyst pushes it into the scan.
2. **row-level HWM skip** — drop ``event_seq <= hwm[source_partition]``
   (watermark dedup; export_service.rb:102-107), counted per partition
   (skip counters; export_service.rb:134-136).
3. **latest-wins reduction** — one winner per (repo, path) by
   (commit_seq, event_seq, event_id) via a partial-aggregating
   ``max(struct(order..., payload...))`` (see operators.merge for why this
   is skew-proof). Duplicate event_ids collapse here for free: a
   redelivery carries the same key and order tuple, so no separate dedup
   shuffle is spent on it
   (dedup; export_service.rb:102-107 + BASELINE.json event-id dedup).
4. **flatten + schema evolution** — parse ``props`` JSON *after* the
   reduction (cheapest point), promote known keys to ``p_<key>`` columns,
   discover new keys exactly (distinct over winners), evolve the table
   schema additively; unknown keys remain in a residual JSON column
   (custom_properties/unknown_columns analog;
   export_service.rb:188-203,257-280).
5. **content hashing** — ``content_sha = sha2(content, 256)`` JVM-side
   (the per-row invariant vs the oracle replay).
6. **bucket-pruned MERGE** — only buckets present in the batch are read
   and rewritten (copy-on-write); commit is one atomic snapshot carrying
   data + HWM + cursor (exactly-once; mixpanel.rb:34-46 made atomic).

Per batch three ACTIONS run: (1) a column-pruned
HWM/metrics pre-aggregation over (source_partition, event_seq), (2) a
combined discovery pass (touched buckets + new prop keys) over a NARROW
latest-wins twin — key + order + props only, no content (the order
prefix is unique per key, so the narrow winner is the full winner minus
payload; separate actions do not share shuffle files, so narrowing this
job's exchange is a straight bytes win), (3) the merge write, whose
union is repartitioned by storage bucket ONCE so the latest-wins
aggregation and the write layout share a single exchange. The winners
DataFrame is deliberately NOT persisted: a columnar cache of map-typed
rows costs more (build + GC) than the narrow recompute. Under AQE each
exchange of an action is a Spark job of its own, so the three actions
schedule 8 jobs per batch (``tests/test_replay_jobs.py``; 2k-event
batches into a 16-bucket table).

Every count in :class:`ApplyResult` comes from those actions or from
files, so batch replays and foreachBatch epochs report the same numbers:

- ``rows_in``, ``rows_skipped_hwm`` and the HWM advance: action (1).
- ``keys_upserted``: action (2). Its prop keys are exploded with
  ``posexplode_outer``; a narrow winner yields exactly one row whose
  position is 0 or null (no props), and those rows are counted.
- ``rows_in_touched_after``: the parquet footers of the files the commit
  wrote for the touched buckets (:meth:`LakeTable.footer_rows`), read by
  the driver; tombstones included, no Spark job.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.checkpoint import checkpoint_properties, get_cursor, get_hwm_map
from ..plans.windows import Batch
from ..sources.lake import LakeTable, bucket_of
from .merge import latest_wins, merge_upsert

__all__ = ["apply_batch", "ApplyResult", "base_table_schema", "KEY_COLS", "ORDER_COLS"]

KEY_COLS = ["repo", "path"]
ORDER_COLS = ["commit_seq", "event_seq"]

_BASE_FIELDS = [
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("content", T.StringType()),
    ("content_sha", T.StringType()),
    ("commit_seq", T.LongType()),
    ("event_seq", T.LongType()),
    ("event_id", T.StringType()),
    ("ts_ms", T.LongType()),
    ("source_partition", T.IntegerType()),
    ("props_rest", T.StringType()),
    # op='D' rows are tombstones: retained for out-of-order delete
    # correctness, hidden from reads, GC'd by vacuum_tombstones
    ("op", T.StringType()),
]


def base_table_schema(prop_keys: list[str] | None = None) -> T.StructType:
    fields = [T.StructField(n, t, True) for n, t in _BASE_FIELDS]
    for k in prop_keys or []:
        fields.append(T.StructField(f"p_{k}", T.StringType(), True))
    return T.StructType(fields)


@dataclass
class ApplyResult:
    batch_index: int
    committed: bool
    version: int
    rows_in: int
    rows_skipped_hwm: int
    keys_upserted: int
    rows_in_touched_after: int
    touched_buckets: int
    new_prop_keys: list[str]
    hwm_before: dict[int, int]
    hwm_after: dict[int, int]
    seconds: float
    extra: dict[str, Any] = field(default_factory=dict)


def _hwm_filter(hwm_map: dict[int, int]) -> F.Column:
    """event_seq > hwm[source_partition], default -1 for unseen partitions."""
    if not hwm_map:
        return F.lit(True)
    pairs: list[F.Column] = []
    for k, v in sorted(hwm_map.items()):
        pairs += [F.lit(int(k)), F.lit(int(v))]
    m = F.create_map(*pairs)
    bound = F.coalesce(m[F.col("source_partition")], F.lit(-1))
    return F.col("event_seq") > bound


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    batch: Batch,
    promoted_keys: list[str] | None = None,
    auto_evolve: bool = True,
    hwm_skip: bool = True,
    reserved_keys: list[str] | None = None,
    writer_id: str = "",
) -> ApplyResult:
    """Apply one planned batch of change events to the lake table.

    ``reserved_keys`` is the KNOWN_KEYS analog (reference:
    export_service.rb:14-18): property keys that are system metadata, not
    custom data — never auto-promoted to ``p_*`` columns and excluded from
    the residual ``props_rest`` JSON (they are already represented by core
    columns downstream).

    ``hwm_skip``: the row-level HWM filter is an *optimization* that is
    only valid when the source delivers each partition in event_seq order
    (the planner guarantees this; the reference's date windows do too).
    Unordered sources (streaming file tails) pass False — correctness then
    rests entirely on the latest-wins merge, which never regresses a key
    (stale versions lose), so re-delivery and late arrival stay idempotent.

    ``writer_id`` namespaces the cursor/last_batch checkpoint keys so
    concurrent writers over DISJOINT source partitions never consume each
    other's window cursor (plans/checkpoint.py multi-writer).
    """
    t0 = time.time()
    timings: dict[str, float] = {}
    planned_version = table.version  # optimistic-concurrency anchor
    hwm_before = get_hwm_map(table)
    # cursor never regresses even when an unordered stream delivers an
    # older window after a newer one
    cursor_after = max(batch.hi, get_cursor(table, writer_id))

    bounded = events.filter(
        (F.col("event_seq") > F.lit(batch.lo)) & (F.col("event_seq") <= F.lit(batch.hi))
    )

    # --- metrics + HWM pre-aggregation (column-pruned: 2 narrow columns) ---
    keep = _hwm_filter(hwm_before) if hwm_skip else F.lit(True)
    stats = (
        bounded.select("source_partition", "event_seq")
        .groupBy("source_partition")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(~keep, 1).otherwise(0)).alias("n_skipped"),
            F.max("event_seq").alias("max_seq"),
        )
        .collect()
    )
    timings["metrics"] = round(time.time() - t0, 3)
    rows_in = sum(r["n"] for r in stats)
    rows_skipped = sum(r["n_skipped"] for r in stats)
    hwm_after = dict(hwm_before)
    for r in stats:
        p, mx = int(r["source_partition"]), int(r["max_seq"])
        hwm_after[p] = max(hwm_after.get(p, -1), mx)

    props = checkpoint_properties(
        hwm_after, cursor_seq=cursor_after, last_batch=batch.index, writer_id=writer_id
    )

    if rows_in - rows_skipped == 0:
        snap = table.commit_properties(props, expected_version=planned_version)
        return ApplyResult(
            batch.index, True, snap.version, rows_in, rows_skipped,
            0, 0, 0, [], hwm_before, hwm_after, time.time() - t0,
        )

    survivors = bounded.filter(keep)

    # --- latest-wins reduction (one shuffle; partial agg kills skew) ---
    bucket = bucket_of(table.num_buckets, *KEY_COLS)
    winners = (
        latest_wins(survivors, KEY_COLS, ORDER_COLS, tiebreak_col="event_id")
        .withColumn("_pm", F.from_json("props", T.MapType(T.StringType(), T.StringType())))
        .withColumn("bucket", bucket)
    )

    # --- one combined discovery pass: touched buckets + new prop keys ---
    # Runs its own NARROW latest-wins (key + order + props only): the
    # order prefix (commit_seq, event_seq, event_id) is unique per key,
    # so the narrow winner row is the full winner row minus payload —
    # identical buckets and prop keys. Shuffle reuse does NOT span the
    # discovery and merge actions (separate query executions build
    # separate exchanges), so pre-r6 this job shuffled the full row
    # WIDTH — content included — twice per batch; projecting content out
    # here halves the discovery exchange (guide §2.3 project before the
    # exchange).
    promoted = list(promoted_keys) if promoted_keys is not None else _current_promoted(table)
    narrow = survivors.select(*KEY_COLS, *ORDER_COLS, "event_id", "props")
    w_narrow = (
        latest_wins(narrow, KEY_COLS, ORDER_COLS, tiebreak_col="event_id")
        .withColumn("_pm", F.from_json("props", T.MapType(T.StringType(), T.StringType())))
        .withColumn("bucket", bucket)
    )
    # one row per (winner, prop key), and exactly one per winner at
    # position 0 (or null: no props) — so the winner count rides along
    disc = (
        w_narrow.select("bucket", F.posexplode_outer(F.map_keys("_pm")).alias("pos", "k"))
        .agg(
            F.collect_set("bucket").alias("buckets"),
            F.collect_set("k").alias("keys"),
            F.count(F.when(F.coalesce(F.col("pos"), F.lit(0)) == 0, 1)).alias("n_winners"),
        )
        .first()
    )
    timings["discovery"] = round(time.time() - t0 - sum(timings.values()), 3)
    touched = sorted(disc["buckets"])
    reserved = set(reserved_keys or [])
    new_keys: list[str] = []
    if auto_evolve:
        new_keys = sorted(k for k in disc["keys"] if k not in promoted and k not in reserved)
        promoted = promoted + new_keys

    # reserved keys drop out of the residual too: neither promoted nor rest
    hidden = list(promoted) + sorted(reserved)
    known_arr = (
        F.array(*[F.lit(k) for k in hidden]) if hidden else F.array().cast("array<string>")
    )
    payload = winners.select(
        "bucket",
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha"),
        "commit_seq",
        "event_seq",
        "event_id",
        "ts_ms",
        "source_partition",
        "op",
        F.to_json(
            F.map_filter("_pm", lambda k, _: ~F.array_contains(known_arr, k))
        ).alias("props_rest"),
        *[F.col("_pm").getItem(k).alias(f"p_{k}") for k in promoted],
    )

    out_schema = table.evolve_schema(
        [T.StructField(f"p_{k}", T.StringType(), True) for k in new_keys]
    )

    # --- bucket-pruned copy-on-write MERGE ---
    # tombstones included: stored deletes must keep beating staler updates
    target = table.read(buckets=touched, include_tombstones=True)

    # single-shuffle MERGE: the union is repartitioned by the storage
    # bucket ONCE; the latest-wins aggregation (keyed bucket+repo+path,
    # bucket functionally determined by the key) then needs no exchange of
    # its own, and the output is already laid out one partition per
    # touched bucket for the write. Pre-r6 this path paid two full-width
    # exchanges per batch (agg shuffle + write repartition).
    tgt = target.withColumn(
        "bucket", F.col("bucket").cast("int")
    ) if "bucket" in target.columns else target.withColumn(
        "bucket", bucket
    )
    merged = merge_upsert(
        tgt, payload, ["bucket", *KEY_COLS], ORDER_COLS,
        pre_repartition=(max(len(touched), 1), ["bucket"]),
    )

    snap = table.commit_rewrite(
        merged, touched, properties=props, schema=out_schema,
        expected_version=planned_version,
    )
    timings["merge_write"] = round(time.time() - t0 - sum(timings.values()), 3)

    return ApplyResult(
        batch_index=batch.index,
        committed=True,
        version=snap.version,
        rows_in=rows_in,
        rows_skipped_hwm=rows_skipped,
        keys_upserted=int(disc["n_winners"]),
        rows_in_touched_after=table.footer_rows(snap, touched),
        touched_buckets=len(touched),
        new_prop_keys=new_keys,
        hwm_before=hwm_before,
        hwm_after=hwm_after,
        seconds=time.time() - t0,
        extra={"timings": timings},
    )


def _current_promoted(table: LakeTable) -> list[str]:
    return [f.name[2:] for f in table.schema.fields if f.name.startswith("p_")]
