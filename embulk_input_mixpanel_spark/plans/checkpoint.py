"""Checkpoint protocol: high-water marks + batch cursor inside snapshots.

The reference checkpoints via Embulk's config-diff — ``task_report`` returns
``{latest_fetched_time, to_date}`` and the next run starts from there
(reference: lib/embulk/input/service/export_service.rb:59-65,146-151;
lib/embulk/input/mixpanel.rb:34-46). That protocol is window-granular and
single-writer.

Here the checkpoint is richer and commits *atomically with the data*,
because it lives in the lake table's snapshot properties
(:meth:`LakeTable.commit_rewrite` writes both in one pointer swap):

- ``cursor_seq``  — window cursor: every batch with hi <= cursor_seq is
  fully committed (the ``from_date = previous to_date`` analog).
- ``last_batch``  — index of the last committed batch in the current plan
  (idempotent re-run skips it on resume).
- ``hwm``         — per-source-partition row-level high-water mark
  (the ``latest_fetched_time`` analog, but per partition — removing the
  single-writer bottleneck the reference admits at mixpanel.rb:37-38).

Resume = read the current snapshot, plan batches above ``cursor_seq``.
A crash between data write and snapshot swap leaves the old snapshot
current; the re-run re-applies the batch against unchanged state, and
row-level HWM + latest-wins make that idempotent (exactly-once observable
effect).

Multi-writer: a ``writer_id`` namespaces the cursor/last_batch keys
(``cursor_seq:<id>``), so writers ingesting DISJOINT source-partition sets
never plan away each other's windows; the shared ``hwm`` map stays
correct because each writer only advances its own partitions and every
commit is recomputed against a fresh snapshot under the optimistic
anchor + O_EXCL lock (sources/lake.py). The hwm/cursor keys still commit
atomically with the data.
"""

from __future__ import annotations

from typing import Any

from ..sources.lake import LakeTable

__all__ = ["get_hwm_map", "get_cursor", "checkpoint_properties"]


def get_hwm_map(table: LakeTable) -> dict[int, int]:
    raw = table.properties.get("hwm", {})
    return {int(k): int(v) for k, v in raw.items()}


def _key(base: str, writer_id: str) -> str:
    return f"{base}:{writer_id}" if writer_id else base


def get_cursor(table: LakeTable, writer_id: str = "") -> int:
    return int(table.properties.get(_key("cursor_seq", writer_id), -1))


def checkpoint_properties(
    hwm_map: dict[int, int],
    cursor_seq: int,
    last_batch: int,
    extra: dict[str, Any] | None = None,
    writer_id: str = "",
) -> dict[str, Any]:
    props = {
        "hwm": {str(k): int(v) for k, v in sorted(hwm_map.items())},
        _key("cursor_seq", writer_id): int(cursor_seq),
        _key("last_batch", writer_id): int(last_batch),
    }
    if extra:
        props.update(extra)
    return props
