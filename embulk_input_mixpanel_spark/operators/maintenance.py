"""Table maintenance: tombstone vacuum, store compaction, and the takedown
registry both incremental stores share.

Delete tombstones are only needed while an event older than the delete
could still arrive — i.e. within the stream's lateness horizon. Once the
committed cursor has passed ``tombstone.event_seq + horizon``, the
tombstone can be physically dropped. This is the CDC analog of Iceberg's
``expire_snapshots``/``rewrite_data_files`` maintenance actions: an
offline, snapshot-atomic rewrite, never on the ingest hot path.

Both incremental stores keep their takedown registry (``deleted``) with
the functions below; its ``purged_seq`` watermark advances by a
properties-only commit (no data file, no Spark job), like an Iceberg
metadata-only snapshot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.checkpoint import get_cursor
from ..sources.lake import LakeTable, bucket_of, lake_buckets_of

__all__ = ["vacuum_tombstones", "compact_and_expire", "open_registry",
           "register_takedowns", "without_takedowns", "pending_takedowns",
           "purge_buckets", "mark_purged"]

# takedown registry: ids whose rows are deleted from a store. Rows are
# kept FOREVER (no-reingest memory; for ANN a PRE-emptive delete of a
# not-yet-delivered id must block too); purged_seq in the table
# properties tracks how far physical purging has caught up.
_DELETED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)


def vacuum_tombstones(table: LakeTable, horizon: int = 0) -> int:
    """Rewrite buckets, dropping tombstones with seq <= cursor - horizon.

    Returns the new snapshot version (or current version if nothing to do).
    Cost: one full scan + rewrite of buckets that still hold eligible
    tombstones — run it as periodic maintenance, amortized across many
    batches.
    """
    cutoff = get_cursor(table) - horizon
    full = table.read(include_tombstones=True)
    eligible = full.filter((F.col("op") == "D") & (F.col("event_seq") <= F.lit(cutoff)))
    bucket = bucket_of(table.num_buckets, "repo", "path")
    buckets = sorted(
        r[0]
        for r in eligible.select(bucket.alias("b"))
        .distinct()
        .collect()
    )
    if not buckets:
        return table.version
    kept = (
        table.read(buckets=buckets, include_tombstones=True)
        .filter(~((F.col("op") == "D") & (F.col("event_seq") <= F.lit(cutoff))))
        .withColumn("bucket", bucket)
    )
    snap = table.commit_rewrite(kept, buckets, properties={"last_vacuum_cutoff": cutoff})
    return snap.version


def compact_and_expire(
    table: LakeTable, prefix: str, max_files_per_bucket: int, keep_snapshots: int
) -> dict[str, int]:
    """Compact buckets holding more than ``max_files_per_bucket`` files and
    expire old snapshots; stats under ``prefix``-ed keys. With no bucket
    over the limit this reads snapshots and runs no Spark job."""
    _, st = table.compact(min_files=max_files_per_bucket + 1)
    expired = table.expire_snapshots(keep_last=keep_snapshots)
    return {
        f"{prefix}buckets_compacted": st["buckets_compacted"],
        f"{prefix}files_in": st["files_in"],
        f"{prefix}files_out": st["files_out"],
        f"{prefix}files_expired": len(expired),
    }


def open_registry(spark: SparkSession, path: str, masked: LakeTable) -> LakeTable:
    """The takedown registry at ``path``, created if missing at the
    ``num_buckets`` of ``masked``, the id-keyed table it masks: one
    id-bucket list then prunes both reads, so the mask adds no job."""
    registry = LakeTable(spark, path)
    if registry.exists():
        return registry
    return LakeTable.create(
        spark, path, _DELETED_SCHEMA, num_buckets=masked.num_buckets,
        properties={"batch_seq": 0, "purged_seq": 0},
    )


def register_takedowns(registry: LakeTable, ids, id_col: str) -> int:
    """Append the ids not yet recorded; returns how many. O(delete batch):
    one bucket-pruned idempotence anti-join + one atomic append."""
    if isinstance(ids, DataFrame):
        want = ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    else:
        want = registry.spark.createDataFrame(
            [(int(i),) for i in ids], "id BIGINT"
        ).distinct()
    del_v = registry.version
    seq = int(registry.properties.get("batch_seq", 0)) + 1
    pruned = lake_buckets_of(want, registry, "id")
    already = registry.read(buckets=pruned).select("id")
    fresh = want.join(already, "id", "left_anti").localCheckpoint(eager=True)
    n = fresh.count()
    if n == 0:
        return 0
    registry.commit_append(
        fresh.select("id", F.lit(seq).cast("long").alias("batch_seq"))
        .withColumn("bucket", registry.bucket_expr("id")),
        properties={"batch_seq": seq},
        expected_version=del_v,
    )
    return n


def without_takedowns(
    df: DataFrame, registry: LakeTable, buckets: list[int] | None = None
) -> DataFrame:
    """``df`` minus the rows whose ``id`` the registry holds, reading only
    ``buckets`` of it (None: all; else they must cover ``df``'s ids)."""
    return df.join(registry.read(buckets=buckets).select("id"), "id", "left_anti")


def pending_takedowns(registry: LakeTable) -> tuple[DataFrame | None, int]:
    """(ids with ``batch_seq > purged_seq``, eagerly checkpointed, or None
    when the purge has caught up; the batch_seq for :func:`mark_purged`)."""
    props = registry.properties
    del_seq = int(props.get("batch_seq", 0))
    purged = int(props.get("purged_seq", 0))
    if del_seq == purged:
        return None, del_seq
    targets = (
        registry.read()
        .filter(F.col("batch_seq") > F.lit(purged))
        .select("id")
        .localCheckpoint(eager=True)
    )
    return targets, del_seq


def purge_buckets(
    table: LakeTable, buckets: list[int], targets: DataFrame, bucket: Column,
    expected_version: int,
) -> None:
    """Copy-on-write of ``buckets`` without the rows whose ``id`` is in
    ``targets``, pinned to the version the keep-set is read at: an append
    landing mid-purge aborts the purge (ConcurrentCommitError — rerun
    later) instead of being erased by the stale bucket rewrite."""
    keep = table.read(buckets=buckets).join(targets, "id", "left_anti")
    table.commit_rewrite(
        keep.withColumn("bucket", bucket),
        touched_buckets=buckets,
        expected_version=expected_version,
    )


def mark_purged(registry: LakeTable, del_seq: int) -> None:
    """Advance ``purged_seq``, LAST in a purge: a crash before it re-runs
    the purge, a no-op over already-purged rows."""
    registry.commit_properties({"purged_seq": del_seq})
