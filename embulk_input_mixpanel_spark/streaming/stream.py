"""Structured Streaming replay: file-source tail -> foreachBatch MERGE.

The reference is a repeated-batch incremental loop (Embulk scheduled
runs) — exactly Spark's ``trigger(availableNow=True)`` + ``foreachBatch``
shape (SURVEY.md §2.7). This module tails a JSONL/parquet landing
directory as a stream and applies each micro-batch through the same
``apply_batch`` pipeline the batch runner uses, so semantics (HWM skip,
latest-wins, exactly-once snapshot commit) are identical in both modes.

Two checkpoint layers cooperate:
- Spark's streaming checkpoint (``checkpointLocation``) makes the *file
  discovery* resumable;
- the engine's snapshot-embedded HWM makes the *apply* idempotent even if
  a foreachBatch epoch is replayed after a crash (the known at-least-once
  hole in foreachBatch is closed by the row-level HWM filter + latest-wins
  merge, the same mechanism that absorbs backfill overlap).

Every committed epoch appends one lineage row (``plans/metrics.py``), as
``runner.replay`` does per batch, with the same counts: ``apply_batch``
takes them from its own actions and the written files' footers, so no
count waits on a query listener (which never fires for the nested
actions of a foreachBatch epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.retry import with_retry
from ..operators.apply import ApplyResult, apply_batch
from ..plans.checkpoint import get_cursor
from ..plans.metrics import record_lineage
from ..plans.windows import Batch
from ..sources.lake import LakeTable

__all__ = ["stream_replay"]


def stream_replay(
    spark: SparkSession,
    table: LakeTable,
    source_path: str,
    checkpoint_dir: str,
    source_format: str = "parquet",
    schema=None,
    max_files_per_trigger: int | None = None,
    writer_id: str = "",
    retry_limit: int = 2,
    retry_wait: float = 0.1,
) -> None:
    """Drain all available files from ``source_path`` into the table.

    Each foreachBatch epoch becomes one engine Batch whose bounds are
    taken from the epoch's own data (min/max event_seq) — the stream is
    the window ledger. Runs with availableNow (bounded drain), so the
    call returns when the backlog is applied.

    ``writer_id`` namespaces this stream's cursor keys so it can run
    CONCURRENTLY with batch writers over disjoint source partitions
    (plans/checkpoint.py multi-writer); ``retry_limit``/``retry_wait``
    re-apply an epoch whose optimistic commit lost the race to another
    writer (apply_batch re-reads version + HWM map per attempt — the same
    contract as runner.replay).
    """
    reader = spark.readStream.format(source_format)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.format(source_format).load(source_path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_path)

    @with_retry(limit=retry_limit, initial_wait=retry_wait)
    def _apply_once(batch_df: DataFrame, batch: Batch) -> ApplyResult:
        # hwm_skip off: file tails deliver in arbitrary seq order; the
        # latest-wins merge alone guarantees idempotence/correctness
        return apply_batch(table, batch_df, batch, hwm_skip=False, writer_id=writer_id)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        bounds = batch_df.agg(
            F.min("event_seq").alias("lo"), F.max("event_seq").alias("hi")
        ).first()
        if bounds["hi"] is None:
            return
        cursor = get_cursor(table, writer_id)
        batch = Batch(index=int(epoch_id), lo=min(bounds["lo"] - 1, cursor), hi=int(bounds["hi"]))
        record_lineage(table.path, _apply_once(batch_df, batch))

    (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
