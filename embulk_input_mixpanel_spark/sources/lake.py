"""Snapshot-isolated, hash-bucketed lakehouse table (parquet + JSON log).

No Iceberg/Delta jars ship in this sandbox, so the engine carries its own
minimal table format with the four properties the CDC sink needs — on a real
cluster the :class:`LakeTable` surface maps 1:1 onto an Iceberg table
(``bucket(N, repo||path)`` partition transform + snapshot summary props):

1. **Atomic snapshot commit** — a commit writes an immutable
   ``_snapshots/v{N}.json`` manifest then atomically swaps the ``CURRENT``
   pointer (``os.replace``). Readers resolve CURRENT once; a crashed commit
   leaves only unreferenced files, never a torn table. This is the
   exactly-once boundary: the HWM checkpoint travels INSIDE the snapshot
   properties, so table state and cursor commit in the same atomic action
   (the subtlety the reference sidesteps with window-granular resume,
   reference: lib/embulk/input/mixpanel.rb:34-46).
2. **Hash-bucket layout** — rows live in ``num_buckets`` buckets by
   ``xxhash64(repo, path) mod N``. A MERGE only rewrites buckets that the
   incoming batch touches (copy-on-write), so merge cost scales with batch
   size, not table size — the property that keeps 10^10-event replay
   feasible. Untouched buckets are carried forward by file reference.
3. **Additive schema evolution** — each snapshot carries the full schema;
   readers apply the *current* schema to *old* files, so columns added
   later read as NULL from pre-evolution files (Iceberg add-column
   semantics; the reference's custom_properties escape hatch,
   reference: lib/embulk/input/service/export_service.rb:257-280).
4. **Time travel** — any retained snapshot version is readable, which is
   what makes resume-mid-stream testable.

Single-writer by design (the batch driver); the reference is likewise a
single orchestrator (mixpanel.rb:31). Parallelism lives in the data plane.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import BYTES_PER_TASK, DRIVER_WRITE_BYTES, estimated_bytes, size_of

__all__ = [
    "LakeTable",
    "Snapshot",
    "bucket_of",
    "lake_buckets_of",
    "ConcurrentCommitError",
]


class ConcurrentCommitError(RuntimeError):
    """The table advanced underneath this writer (optimistic concurrency).

    The engine is single-writer by design (like the reference,
    lib/embulk/input/mixpanel.rb:31), but a second writer must fail loudly
    before publishing, never corrupt: commits validate that CURRENT still
    points at the snapshot the batch was planned against.
    """

_SNAPDIR = "_snapshots"
_CURRENT = "CURRENT"
_DATADIR = "data"
# the bucket=N directory a data file was written into
_BUCKET_DIR = re.compile(r"/bucket=(\d+)/[^/]*$")


def bucket_of(num_buckets: int, *key_cols: str | Column) -> Column:
    """Deterministic bucket id for a key tuple.

    xxhash64 is a JVM-side, codegen'd expression (no Python), stable across
    sessions and partitionings — the analog of Iceberg's bucket transform.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(num_buckets)).cast("int")


def lake_buckets_of(df: DataFrame, table: "LakeTable", *key_cols: str) -> list[int]:
    """Distinct lake-bucket ids a frame's key columns hash into — one
    global ``collect_set`` of at most ``table.num_buckets`` integers, used
    by the incremental stores to prune store reads to the files a batch
    can possibly match (the pruning that keeps per-batch cost O(batch) at
    any corpus size).

    A frame the optimizer sizes under ``BYTES_PER_TASK`` is aggregated in
    one task: a one-partition input needs no exchange before the global
    aggregate, so it is one Spark job instead of two."""
    ids = df.select(bucket_of(table.num_buckets, *key_cols).alias("b"))
    if estimated_bytes(ids) <= BYTES_PER_TASK:
        ids = ids.coalesce(1)
    return sorted(ids.agg(F.collect_set("b")).collect()[0][0])


def _literal_bucket(spark: SparkSession, num_buckets: int, values: list[Column]) -> int:
    """:func:`bucket_of` over constant columns, read from the optimized
    plan of a one-row projection: constant folding reduces it to a
    literal, so no Spark job runs. Anything else raises."""
    plan = (
        spark.range(1)
        .select(bucket_of(num_buckets, *values).alias("b"))
        ._jdf.queryExecution().optimizedPlan()
    )
    folded = (
        plan.projectList().apply(0).child()
        if plan.getClass().getSimpleName() == "Project" else plan
    )
    if folded.getClass().getSimpleName() != "Literal":
        raise RuntimeError(f"bucket id did not fold to a literal:\n{plan}")
    return int(folded.value())


def _dictionary_columns(data: pa.Table) -> list[str]:
    """The flat columns of one file worth dictionary-encoding: those at
    most half of whose non-null values are distinct. Nested columns and
    near-unique ones (ids, content, hashes) stay plain, as a dictionary
    would only add its indices to them."""
    return [
        name for name, col in zip(data.column_names, data.columns)
        if not pa.types.is_nested(col.type)
        and 2 * pc.count_distinct(col).as_py() <= len(col) - col.null_count
    ]


def _write_buckets(batch: pa.Table, stage_abs: str, max_records_per_file: int | None) -> None:
    """Driver-side twin of ``write.partitionBy("bucket").parquet``: one
    file per bucket under ``bucket=N`` (or roll-overs every
    ``max_records_per_file`` rows), without the ``bucket`` column, snappy
    compressed and with no stored Arrow schema. Each file dictionary-
    encodes only its :func:`_dictionary_columns`: pyarrow's default
    (dictionary on every column, plus the stored schema) made the store
    tables' bytes per ingested row 25% above Spark's, and no dictionary
    at all made a live CDC table's files 3.5% larger than parquet-mr's
    (with this rule: 0.06% smaller)."""
    if batch.num_rows == 0:
        return
    if batch.column("bucket").null_count:
        raise ValueError("lake write: a row has a null bucket")
    batch = batch.sort_by("bucket")
    ids = batch.column("bucket").to_numpy()
    data = batch.drop_columns(["bucket"])
    starts = [0, *(np.flatnonzero(np.diff(ids)) + 1).tolist()]
    ends = starts[1:] + [len(ids)]
    step = max_records_per_file or batch.num_rows
    run = uuid.uuid4().hex
    for s, e in zip(starts, ends):
        bucket_dir = os.path.join(stage_abs, f"bucket={int(ids[s])}")
        os.makedirs(bucket_dir)
        for i, lo in enumerate(range(s, e, step)):
            part = data.slice(lo, min(step, e - lo))
            pq.write_table(
                part,
                os.path.join(bucket_dir, f"part-{i:05d}-{run}.c000.snappy.parquet"),
                compression="snappy",
                use_dictionary=_dictionary_columns(part),
                store_schema=False,
            )


@dataclass(frozen=True)
class Snapshot:
    version: int
    schema_json: str
    num_buckets: int
    # bucket id (as str, JSON keys) -> list of parquet paths relative to table root
    files: dict[str, list[str]]
    properties: dict[str, Any]
    parent: int | None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def all_files(self) -> list[str]:
        return [f for fl in self.files.values() for f in fl]


class LakeTable:
    """A table rooted at ``path`` on the local filesystem.

    Typical flow::

        t = LakeTable.create(spark, path, schema, num_buckets=64)
        df = t.read()                          # full scan, current snapshot
        df = t.read(buckets=[3, 17])           # bucket-pruned scan
        t.commit_rewrite(new_rows_df, touched_buckets, properties={...})
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        # Columns a store call would otherwise rebuild on every call (see
        # :meth:`bucket_expr` and :meth:`_stored_columns`)
        self._bucket_exprs: dict[tuple, Column] = {}
        self._stored_cols: dict[bool, tuple[str, list[Column]]] = {}

    # ---------------------------------------------------------------- setup

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        num_buckets: int = 64,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(os.path.join(t.path, _SNAPDIR), exist_ok=True)
        os.makedirs(os.path.join(t.path, _DATADIR), exist_ok=True)
        snap = Snapshot(
            version=0,
            schema_json=json.dumps(schema.jsonValue()),
            num_buckets=num_buckets,
            files={},
            properties=properties or {},
            parent=None,
        )
        t._write_snapshot(snap)
        return t

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, _SNAPDIR, _CURRENT))

    # ------------------------------------------------------------ snapshots

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.path, _SNAPDIR, f"v{version:08d}.json")

    def _write_snapshot(self, snap: Snapshot) -> None:
        body = json.dumps(
            {
                "version": snap.version,
                "schema": json.loads(snap.schema_json),
                "num_buckets": snap.num_buckets,
                "files": snap.files,
                "properties": snap.properties,
                "parent": snap.parent,
            },
            sort_keys=True,
        )
        p = self._snap_path(snap.version)
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(body)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, p)
        # atomic pointer swap = the commit point
        cur = os.path.join(self.path, _SNAPDIR, _CURRENT)
        tmp = cur + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(f"v{snap.version:08d}.json")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, cur)

    @contextlib.contextmanager
    def _commit_lock(self, timeout: float = 60.0, stale_after: float = 300.0):
        """Mutual exclusion for the check-version -> swap-pointer critical
        section (os.replace alone is last-writer-wins; the optimistic check
        must be atomic with the swap). O_EXCL lockfile; locks older than
        ``stale_after`` are treated as crashed holders and broken."""
        lock = os.path.join(self.path, _SNAPDIR, "LOCK")
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_after:
                        os.remove(lock)  # crashed holder
                        continue
                except FileNotFoundError:
                    continue
                if time.time() > deadline:
                    raise ConcurrentCommitError("commit lock busy beyond timeout")
                time.sleep(0.05)
        try:
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            with open(os.path.join(self.path, _SNAPDIR, _CURRENT)) as fh:
                name = fh.read().strip()
            p = os.path.join(self.path, _SNAPDIR, name)
        else:
            p = self._snap_path(version)
        with open(p) as fh:
            d = json.load(fh)
        return Snapshot(
            version=d["version"],
            schema_json=json.dumps(d["schema"]),
            num_buckets=d["num_buckets"],
            files=d["files"],
            properties=d["properties"],
            parent=d["parent"],
        )

    @property
    def version(self) -> int:
        return self.snapshot().version

    @property
    def schema(self) -> T.StructType:
        return self.snapshot().schema

    @property
    def num_buckets(self) -> int:
        return self.snapshot().num_buckets

    @property
    def properties(self) -> dict[str, Any]:
        return self.snapshot().properties

    # ----------------------------------------------------------------- read

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Scan the table at a snapshot, optionally pruned to buckets.

        Bucket pruning is file-level: only the parquet files of the
        requested buckets are opened (the scan analog of Iceberg data-file
        pruning; keeps MERGE cost proportional to the batch).
        Current-snapshot schema is applied to all files -> columns added by
        later schema evolution read as NULL from older files.

        Delete tombstones (op='D') are hidden unless
        ``include_tombstones`` — the merge path reads them to keep
        out-of-order deletes effective across batches.
        """
        snap = self.snapshot(version)
        if buckets is None:
            files = snap.all_files()
        else:
            want = {str(b) for b in buckets}
            files = [f for b, fl in snap.files.items() if b in want for f in fl]
        schema = snap.schema
        if not files:
            # an empty relation the optimizer can see through: a join
            # against it folds away, and its size estimate allows a
            # broadcast (a createDataFrame([]) relation has unknown size,
            # which forces a shuffle join on every side it touches)
            df = self.spark.range(0).select(*self._stored_columns(snap.schema_json, empty=True))
        else:
            paths = [os.path.join(self.path, f) for f in files]
            df = self.spark.read.schema(schema).parquet(*paths)
        if not include_tombstones and "op" in schema.names:
            df = df.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        return df

    def footer_rows(self, snap: Snapshot, buckets: list[int]) -> int:
        """Rows in ``buckets`` at ``snap``, tombstones included: the sum of
        the parquet footers' ``num_rows``, read by the driver with pyarrow
        (O(files) footer reads, no Spark job). Equal to
        ``read(snap.version, buckets, include_tombstones=True).count()``."""
        want = {str(b) for b in buckets}
        return sum(
            pq.read_metadata(os.path.join(self.path, f)).num_rows
            for b, fl in snap.files.items() if b in want for f in fl
        )

    def bucket_expr(self, *key_cols: str) -> Column:
        """:func:`bucket_of` at the table's current ``num_buckets``, built
        once per key and bucket count."""
        key = (self.num_buckets, *key_cols)
        expr = self._bucket_exprs.get(key)
        if expr is None:
            expr = self._bucket_exprs[key] = bucket_of(*key)
        return expr

    def _stored_columns(self, schema_json: str, empty: bool = False) -> list[Column]:
        """Every column of ``schema_json`` cast to its stored type and
        named as stored: the column of the same name of the frame it is
        selected from, or (``empty``) a typed null. Built once per schema
        and kind, so a commit or an empty read of an unchanged schema
        builds no Column."""
        cached = self._stored_cols.get(empty)
        if cached is None or cached[0] != schema_json:
            fields = T.StructType.fromJson(json.loads(schema_json)).fields
            cached = self._stored_cols[empty] = (schema_json, [
                (F.lit(None) if empty else F.col(f.name)).cast(f.dataType).alias(f.name)
                for f in fields
            ])
        return cached[1]

    def lookup(self, key: dict[str, Any], version: int | None = None) -> DataFrame:
        """Point lookup: open ONLY the key's bucket, then filter to the key.

        ``key`` maps column -> value in BUCKETING KEY ORDER (the same
        column order the writer hashed — for the CDC table that is
        (repo, path)). The bucket id is computed with the identical
        xxhash64 expression the writer used, so a lookup touches
        1/num_buckets of the table's files regardless of table size —
        the serving-path analog of Iceberg bucket-transform pruning. The
        residual equality predicates push into the single-bucket parquet
        scan. The bucket id is read from the optimized plan, where
        constant folding has reduced the hash of literals to a literal:
        no Spark job. Each value is cast to its column's type first (a
        Python int is an int literal, and xxhash64 hashes an int and a
        long differently), and the bucket count is the looked-up
        snapshot's own (a re-bucketed table's history keeps its count).
        """
        snap = self.snapshot(version)
        types = {f.name: f.dataType for f in snap.schema.fields}
        bucket = _literal_bucket(
            self.spark, snap.num_buckets, [F.lit(v).cast(types[c]) for c, v in key.items()]
        )
        df = self.read(version=snap.version, buckets=[bucket])
        for c, v in key.items():
            df = df.filter(F.col(c) == F.lit(v))
        return df

    # --------------------------------------------------------------- commit

    def _staged_files(self, stage_rel: str) -> dict[str, list[str]]:
        """Bucket id -> parquet files (table-relative) that a
        :meth:`_stage` write staged under ``stage_rel``."""
        stage_abs = os.path.join(self.path, stage_rel)
        staged: dict[str, list[str]] = {}
        if os.path.isdir(stage_abs):
            for entry in sorted(os.listdir(stage_abs)):
                if not entry.startswith("bucket="):
                    continue
                sub = os.path.join(stage_abs, entry)
                staged[str(int(entry.split("=", 1)[1]))] = [
                    os.path.join(stage_rel, entry, f)
                    for f in sorted(os.listdir(sub))
                    if f.endswith(".parquet")
                ]
        return staged

    def _stage(
        self,
        df: DataFrame,
        version: int,
        nbytes: int,
        partitions: int | None = None,
        max_records_per_file: int | None = None,
        kind: str = "",
    ) -> dict[str, list[str]]:
        """Write ``df`` (a ``bucket`` column plus the data columns) into a
        fresh staging directory as ``bucket=N`` subdirectories and return
        the staged listing. Nothing is published: the caller swaps the
        pointer.

        The directory is unique per ATTEMPT, not per version: two racing
        writers must never overwrite each other's staged files (a
        version-numbered dir let the loser's overwrite delete files the
        winner's committed snapshot referenced). Orphaned attempt dirs
        are unreferenced garbage, never referenced by any snapshot.

        An input of at most ``session.DRIVER_WRITE_BYTES`` (``nbytes``) is
        collected as Arrow with ``df.toArrow()`` and written by the
        driver, one pyarrow file per bucket (:func:`_write_buckets`): a
        25-row store append and a 2k-event replay commit both take this
        path. Collecting runs ``df``'s own jobs and no write job, and
        Spark's writer would fork a ``chmod`` per file, checksum file and
        directory it creates (a replay commit: 131 forks, 4 on this path).
        A larger input goes through Spark's writer, shuffled first by
        ``repartition(partitions, "bucket")`` when ``partitions`` is given
        (any static count puts each bucket in one task, so one file per
        bucket), else written as it is laid out."""
        stage_rel = os.path.join(
            _DATADIR, f"v{version:08d}-{kind}{uuid.uuid4().hex[:8]}"
        )
        stage_abs = os.path.join(self.path, stage_rel)
        if nbytes <= DRIVER_WRITE_BYTES:
            _write_buckets(df.toArrow(), stage_abs, max_records_per_file)
        else:
            if partitions is not None:
                df = df.repartition(partitions, "bucket")
            writer = df.write.mode("overwrite")
            if max_records_per_file is not None:
                writer = writer.option("maxRecordsPerFile", max_records_per_file)
            writer.partitionBy("bucket").parquet(stage_abs)
        return self._staged_files(stage_rel)

    def commit_rewrite(
        self,
        df: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, Any] | None = None,
        schema: T.StructType | None = None,
        expected_version: int | None = None,
        num_buckets: int | None = None,
    ) -> Snapshot:
        """Copy-on-write commit: replace ``touched_buckets`` with ``df``.

        ``df`` must carry a ``bucket`` int column and contain the complete
        new contents of exactly the touched buckets. Data is written
        *before* the snapshot swap; a crash mid-write leaves the previous
        snapshot fully intact (rollback = do nothing). An input that
        ``session.size_of`` sizes at most ``session.DRIVER_WRITE_BYTES``
        (a 2k-event replay MERGE: about 15 MB estimated) is collected and
        written by the driver, one file per touched bucket (:meth:`_stage`).
        Sizing and collecting share ``out``'s one ``QueryExecution``, so
        the merge plan is optimized once (Spark's writer plans its write
        command afresh and optimizes it a second time). A larger input
        keeps its own layout (the replay MERGE arrives partitioned by
        bucket) through Spark's writer.

        ``expected_version``: optimistic-concurrency guard — refuse to
        publish if another writer advanced the table since the batch read
        its inputs (the merge was computed against stale state).

        ``num_buckets``: RE-BUCKET the table as part of this commit. The
        rewrite must then be FULL — ``df`` is the complete new table
        contents under the new bucketing (``touched_buckets`` is ignored;
        no prior file can be carried over, its rows hash elsewhere now).
        This is how a bucketed layout grows with the data (e.g. IVF
        fanout ~ sqrt(corpus)) without a stop-the-world table migration:
        the swap is one atomic snapshot like any other commit, crash-safe
        and time-travel-consistent (older snapshots keep their own
        num_buckets, so bucket-pruned reads of history stay correct).
        """
        pre = self.snapshot()
        if expected_version is not None and pre.version != expected_version:
            raise ConcurrentCommitError(
                f"table at v{pre.version}, batch planned against v{expected_version}"
            )
        out_json = json.dumps(schema.jsonValue()) if schema else pre.schema_json
        # cast to the declared schema: callers may carry wider inferred
        # types (e.g. python-int long vs table int) and parquet readers
        # reject type drift between files
        out = df.select("bucket", *self._stored_columns(out_json))
        staged = self._stage(out, pre.version + 1, size_of(out))

        # critical section: the optimistic check must be atomic with the
        # pointer swap, else two writers can both pass and last-wins
        with self._commit_lock():
            prev = self.snapshot()
            if expected_version is not None and prev.version != expected_version:
                raise ConcurrentCommitError(
                    f"table advanced to v{prev.version} during the data write "
                    f"(batch planned against v{expected_version})"
                )
            if num_buckets is not None:
                # re-bucketing is a full replacement: only staged files
                files = dict(staged)
            else:
                files = {b: list(fl) for b, fl in prev.files.items()}
                for b in touched_buckets:
                    files[str(b)] = []
                files.update(staged)
                files = {b: fl for b, fl in files.items() if fl}

            snap = Snapshot(
                version=prev.version + 1,
                schema_json=out_json,
                num_buckets=num_buckets if num_buckets is not None else prev.num_buckets,
                files=files,
                properties={**prev.properties, **(properties or {})},
                parent=prev.version,
            )
            self._write_snapshot(snap)
        return snap

    def commit_append(
        self,
        df: DataFrame,
        properties: dict[str, Any] | None = None,
        expected_version: int | None = None,
    ) -> Snapshot:
        """Append-only commit: add ``df``'s rows as NEW files in their
        buckets, leaving every existing file untouched.

        Every append adds ONE new file per touched bucket. An input that
        ``session.size_of`` sizes at most ``session.DRIVER_WRITE_BYTES``
        (every 25-row store batch) is collected as Arrow in one Spark job
        and written by the driver (:meth:`_stage`): on a local file system
        without Hadoop's native library, Spark's writer forks about 8
        ``chmod`` processes per file (a 25-row write into 32 buckets:
        0.87 s, against 0.06 s on the driver). A larger input is shuffled
        with ``repartition(num_buckets, "bucket")`` so each bucket lands
        in exactly ONE task. Without it, partitionBy splits every task's
        rows by bucket and a 64-task batch over 32 buckets appends up to 2048
        tiny files — file-count, not byte-count, is what kills reads at
        scale (measured 50s -> 6s on the incremental-dedup bulk batch).
        Any static partition count keeps that invariant; the count stays
        pinned to ``num_buckets`` because a count sized from the input's
        estimate won only 3 of 5 traced store_trickle A/B pairs.

        The O(batch) commit for IMMUTABLE data (dedup signatures, band
        buckets, audit logs): cost is writing the batch's own rows, never
        a copy-on-write of bucket history — at 100 TB an append must not
        grow with table size. Mutable CDC state keeps using
        :meth:`commit_rewrite` (latest-wins needs the bucket's full
        contents). Same crash safety (data lands before the atomic
        pointer swap) and the same optimistic-concurrency guard.

        ``df`` must carry a ``bucket`` int column computed with
        :meth:`bucket_expr` over the table's bucketing keys.
        """
        pre = self.snapshot()
        if expected_version is not None and pre.version != expected_version:
            raise ConcurrentCommitError(
                f"table at v{pre.version}, batch planned against v{expected_version}"
            )
        out = df.select("bucket", *self._stored_columns(pre.schema_json))
        staged = self._stage(
            out, pre.version + 1, size_of(out), partitions=pre.num_buckets
        )
        with self._commit_lock():
            prev = self.snapshot()
            if expected_version is not None and prev.version != expected_version:
                raise ConcurrentCommitError(
                    f"table advanced to v{prev.version} during the data write "
                    f"(batch planned against v{expected_version})"
                )
            files = {b: list(fl) for b, fl in prev.files.items()}
            for b, fl in staged.items():
                files.setdefault(b, []).extend(fl)
            snap = Snapshot(
                version=prev.version + 1,
                schema_json=prev.schema_json,
                num_buckets=prev.num_buckets,
                files=files,
                properties={**prev.properties, **(properties or {})},
                parent=prev.version,
            )
            self._write_snapshot(snap)
        return snap

    def compact(
        self,
        min_files: int = 2,
        buckets: list[int] | None = None,
        max_records_per_file: int | None = None,
        _post_stage_hook=None,
    ) -> tuple[Snapshot | None, dict[str, int]]:
        """Merge each bucket's many small files into one (bin-packing
        rewrite — the Iceberg rewrite_data_files analog).

        :meth:`commit_append` writes >=1 new file per bucket per batch, so
        a long-running incremental ingest accumulates O(batches) files per
        bucket and scan/open cost grows without bound — at 100 TB the
        file-count, not the byte-count, becomes the read bottleneck.
        Compaction is the maintenance valve: a PURE PHYSICAL rewrite
        (tombstones and duplicate rows preserved verbatim — semantics
        belong to readers/mergers, never to compaction), after which
        :meth:`expire_snapshots` reclaims the superseded small files.

        Lock-free-safe against concurrent writers WITHOUT pinning a
        version: the critical section swaps a bucket only if every file it
        compacted is still listed there. Files appended meanwhile are kept
        alongside the compacted file (append commutes with compaction); a
        bucket whose files were rewritten away meanwhile (CoW MERGE) is
        skipped — its staged file becomes unreferenced garbage, never
        published. So compaction needs no retry loop and can run as a
        background job beside live ingest.

        ``max_records_per_file`` caps output file size (Spark
        maxRecordsPerFile roll-over): a mega-bucket compacts to a few
        bounded files instead of one unbounded one — at 100 TB a bucket
        can hold terabytes, and a single-file bucket would serialize that
        bucket's scan into one task. Default None = one file per bucket
        (right for the small per-batch append files this targets).

        Returns (snapshot-or-None, stats). ``_post_stage_hook`` is a test
        seam invoked between staging and the commit critical section.
        """
        pre = self.snapshot()
        want = {str(int(b)) for b in buckets} if buckets is not None else None
        todo = {
            b: list(fl)
            for b, fl in pre.files.items()
            if len(fl) >= min_files and (want is None or b in want)
        }
        stats = {
            "buckets_compacted": 0,
            "buckets_skipped_concurrent": 0,
            "files_in": sum(len(fl) for fl in todo.values()),
            "files_out": 0,
        }
        if not todo:
            return None, stats

        # data files don't carry the bucket column (it's directory-encoded
        # at write), so it is read back per row from the file's bucket=N
        # directory; the listing must agree with the directory, or a row
        # would be rewritten into a bucket its readers never open
        for b, fl in todo.items():
            for f in fl:
                m = _BUCKET_DIR.search(f)
                if m is None or int(m.group(1)) != int(b):
                    raise ValueError(
                        f"compact: {f} is listed in bucket {b} but is not "
                        f"in a bucket={b} directory"
                    )
        schema = pre.schema
        paths = [os.path.join(self.path, f) for fl in todo.values() for f in fl]
        file_bucket = F.regexp_extract("_metadata.file_path", _BUCKET_DIR.pattern, 1)
        bucket = F.when(
            file_bucket == "",
            F.raise_error(F.concat(F.lit("compact: no bucket=N directory in "),
                                   F.col("_metadata.file_path"))),
        ).otherwise(file_bucket.cast("int"))
        # ONE scan over every compacted file, sized by its on-disk bytes
        # (the driver stats the files; no Spark job): a Spark rewrite gets
        # as many tasks as the bytes need, capped at one task per bucket.
        nbytes = sum(map(os.path.getsize, paths))
        df = self.spark.read.schema(schema).parquet(*paths).select(
            bucket.alias("bucket"), *[F.col(f.name) for f in schema.fields]
        )
        staged = self._stage(
            df, pre.version + 1, nbytes,
            partitions=max(1, min(len(todo), nbytes // BYTES_PER_TASK)),
            max_records_per_file=max_records_per_file, kind="compact-",
        )
        if _post_stage_hook is not None:
            _post_stage_hook()

        with self._commit_lock():
            prev = self.snapshot()
            files = {b: list(fl) for b, fl in prev.files.items()}
            for b, compacted_fl in todo.items():
                cur = files.get(b, [])
                if set(compacted_fl) <= set(cur):
                    dropped = set(compacted_fl)
                    files[b] = staged.get(b, []) + [f for f in cur if f not in dropped]
                    stats["buckets_compacted"] += 1
                    stats["files_out"] += len(staged.get(b, []))
                else:
                    stats["buckets_skipped_concurrent"] += 1
            if stats["buckets_compacted"] == 0:
                return None, stats
            snap = Snapshot(
                version=prev.version + 1,
                schema_json=prev.schema_json,
                num_buckets=prev.num_buckets,
                files={b: fl for b, fl in files.items() if fl},
                properties=prev.properties,
                parent=prev.version,
            )
            self._write_snapshot(snap)
        return snap, stats

    def commit_properties(
        self, properties: dict[str, Any], expected_version: int | None = None
    ) -> Snapshot:
        """Metadata-only commit (e.g. advance the cursor past an empty batch)."""
        with self._commit_lock():
            prev = self.snapshot()
            if expected_version is not None and prev.version != expected_version:
                raise ConcurrentCommitError(
                    f"table at v{prev.version}, batch planned against v{expected_version}"
                )
            snap = Snapshot(
                version=prev.version + 1,
                schema_json=prev.schema_json,
                num_buckets=prev.num_buckets,
                files=prev.files,
                properties={**prev.properties, **properties},
                parent=prev.version,
            )
            self._write_snapshot(snap)
        return snap

    def history(self) -> list[Snapshot]:
        """All retained snapshots, oldest first."""
        snapdir = os.path.join(self.path, _SNAPDIR)
        versions = sorted(
            int(f[1:9]) for f in os.listdir(snapdir) if f.startswith("v") and f.endswith(".json")
        )
        return [self.snapshot(v) for v in versions]

    def rollback(self, version: int) -> Snapshot:
        """Point CURRENT back at an older snapshot (Iceberg rollback analog).

        Data files are immutable and shared across snapshots, so rollback
        is a pure pointer swap; later snapshots remain readable until
        expired.
        """
        target = self.snapshot(version)  # raises if missing
        snap = Snapshot(
            version=self.version + 1,
            schema_json=target.schema_json,
            num_buckets=target.num_buckets,
            files=target.files,
            properties={**target.properties, "rolled_back_from": self.version,
                        "rolled_back_to": version},
            parent=self.version,
        )
        self._write_snapshot(snap)
        return snap

    def expire_snapshots(self, keep_last: int = 10) -> list[str]:
        """Drop old snapshot manifests and any data files only they
        reference (Iceberg expire_snapshots analog). Never touches the
        current snapshot's lineage of files. Returns removed data paths."""
        snaps = self.history()
        if len(snaps) <= keep_last:
            return []
        keep = snaps[-keep_last:]
        drop = snaps[:-keep_last]
        live_files = {f for s in keep for f in s.all_files()}
        removed: list[str] = []
        for s in drop:
            for f in s.all_files():
                if f not in live_files:
                    p = os.path.join(self.path, f)
                    if os.path.exists(p):
                        os.remove(p)
                        removed.append(f)
            os.remove(self._snap_path(s.version))
        return removed

    def vacuum_orphans(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete data files referenced by NO retained snapshot (Iceberg
        remove_orphan_files analog). Orphans accumulate from crashed
        commits (staged before the pointer swap), losing racers, and
        compactions whose bucket swap was skipped — all unreferenced by
        design, but at 100 TB unreclaimed staging is real money.

        ``grace_seconds`` protects in-flight writers at STAGING-DIRECTORY
        granularity, not per file: each commit attempt stages into its own
        ``data/v*-<hex>/`` directory, and a single long-running data write
        produces files minutes apart — per-file mtimes would let vacuum
        delete a slow commit's early files while its late files are still
        landing, after which the swapped snapshot references deleted files
        (a corrupt table, not just lost staging). So a staging dir whose
        NEWEST file is inside the grace window is skipped whole; only
        dirs quiescent for the full grace period are eligible (same
        rationale as Iceberg's older_than, widened to the commit unit).
        A vacuum with a grace shorter than the slowest plausible commit
        must not run beside live writers. A live file's checksum sibling
        (.name.crc) is kept. Returns removed paths (repo-relative)."""
        live = {f for s in self.history() for f in s.all_files()}
        datadir = os.path.join(self.path, _DATADIR)
        removed: list[str] = []
        now = time.time()
        # newest mtime per top-level staging dir (the commit-attempt unit)
        newest: dict[str, float] = {}
        for root, _dirs, files in os.walk(datadir):
            rel_root = os.path.relpath(root, datadir)
            top = rel_root.split(os.sep, 1)[0] if rel_root != "." else "."
            for fn in files:
                m = os.path.getmtime(os.path.join(root, fn))
                if m > newest.get(top, 0.0):
                    newest[top] = m
        for root, _dirs, files in os.walk(datadir):
            rel_root = os.path.relpath(root, datadir)
            top = rel_root.split(os.sep, 1)[0] if rel_root != "." else "."
            if now - newest.get(top, 0.0) < grace_seconds:
                continue  # commit attempt possibly in flight: skip whole dir
            for fn in files:
                p = os.path.join(root, fn)
                rel = os.path.relpath(p, self.path)
                if rel in live:
                    continue
                if fn.startswith(".") and fn.endswith(".crc"):
                    base_rel = os.path.relpath(
                        os.path.join(root, fn[1:-4]), self.path
                    )
                    if base_rel in live:
                        continue
                os.remove(p)
                removed.append(rel)
        for root, _dirs, files in os.walk(datadir, topdown=False):
            if root != datadir and not os.listdir(root):
                os.rmdir(root)
        return removed

    def evolve_schema(self, new_fields: list[T.StructField]) -> T.StructType:
        """Additive schema evolution: append columns not yet present.

        Returns the union schema (does NOT commit — the caller commits it
        together with the batch so evolution + data are one atomic snapshot).
        """
        cur = self.schema
        have = {f.name for f in cur.fields}
        out = T.StructType(list(cur.fields) + [f for f in new_fields if f.name not in have])
        return out
