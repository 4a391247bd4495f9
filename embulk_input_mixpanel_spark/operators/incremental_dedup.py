"""Incremental cross-batch near-dup detection: O(batch) per ingest step.

Batch-mode dedup (operators/dedup.py) recomputes signatures over the whole
corpus per run. A training pipeline ingests INCREMENTALLY (the reference's
entire design is incremental windows — export_service.rb:59-65), so dedup
must be incremental too: per new batch, shingle/hash ONLY the new docs and
join them against persisted state.

State lives in append-only lake tables (sources/lake.py snapshots —
atomic commits, time travel, bucket-pruned reads):

- ``sigs``    (id, shs, mh_0..mh_{k-1}, batch_seq), bucketed by id —
  the per-doc shingle set + MinHash signature, read back ONLY for docs
  that appear in candidate pairs (bucket-pruned by id).
- ``buckets`` (band, bk, id, batch_seq), bucketed by (band, bk) —
  the LSH band index. A new batch's band keys join against it to find
  old->new candidates; reads prune to the lake buckets its keys hash
  into, so a small batch touches a fraction of the index files.
- ``dfreq``   (sh, cnt, batch_seq), bucketed by sh — OPTIONAL (present
  when ``max_shingle_docs`` is set): append-only per-batch document-
  frequency deltas, summed on read, pruned to the batch's shingle
  universe. The persistent belt against boilerplate shingles.
- ``deleted`` (id, batch_seq), bucketed by id — the takedown registry
  (license removal / PII) shared with IncrementalANN
  (operators/maintenance.py): :meth:`delete` appends ids O(batch); every
  read path masks them immediately; :meth:`purge_deleted` (run by
  maintain) physically drops their rows via CoW of only the affected
  buckets, then advances the registry's ``purged_seq`` watermark with a
  properties-only commit. Rows are kept forever — they double as the
  no-reingest memory, the store-level analog of the CDC table's op='D'
  tombstones.

Cost model per batch (the 100 TB story): shingling/hashing is O(batch)
(the expensive text explosion never re-touches old docs); the index
lookup is one groupBy keyed (band, bk) over the batch's band rows and the
matching rows of bucket-pruned index files; the exact rescore reads only
candidate docs' signature rows. Appends are
:meth:`LakeTable.commit_append` — new files only, never a copy-on-write
of history, so commit cost is O(batch) regardless of corpus size.

Crash consistency: ``sigs`` commits FIRST, then ``buckets``, then
``dfreq`` (when enabled); all carry ``batch_seq``. If a crash lands
between commits, the next ``add_batch`` (or ``maintain``) ROLLS
FORWARD: band keys are pure functions of the stored mh columns and df
deltas are pure functions of the stored shingle sets, so the dangling
batch's rows are recomputed from its sigs rows, located by
``filter(batch_seq == seq)`` (correct even across an intervening
compaction). Redelivered batches are dropped by an id anti-join against
``sigs`` (bucket-pruned), making ingestion idempotent; their original
pair OUTPUT is recomputable via :meth:`redelivered_pairs`. Concurrent
writers are rejected by the tables' optimistic version guard.

Two hot-key belts:

- the LSH bucket-size cap (``max_bucket_size``, always on): a band
  bucket whose COMBINED old+new occupancy exceeds the cap contributes no
  candidates (same belt as dedup.lsh_candidate_pairs).
- an optional PERSISTENT document-frequency cap (``max_shingle_docs``):
  a third lake table ``dfreq`` (shingle_hash, count-delta) accumulates
  per-batch df deltas; shingles whose stored+batch df exceeds the cap
  are dropped from the batch's signatures BEFORE minhashing. This is the
  belt that saves RECALL under boilerplate: 10k docs sharing a license
  header would otherwise minhash into the same mega-buckets, and the
  bucket cap would drop their candidates wholesale — with the df-cap the
  header shingles are excluded and the docs' REMAINING content decides
  similarity. The df is necessarily drifting (docs ingested before a
  shingle crossed the cap keep it in their stored sigs — a global
  recount would be O(corpus) per batch), so cross-boundary pairs see an
  asymmetric shingle universe; a drifting belt beats no belt at 100 TB.
  Deltas are counted from the POST-cap signature sets, making crash
  roll-forward a pure function of stored sigs.
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.lake import LakeTable, lake_buckets_of
from .dedup import _derived, _minhash_band_keys, _rebalance, base31, shingles
from .maintenance import (
    compact_and_expire,
    mark_purged,
    open_registry,
    pending_takedowns,
    purge_buckets,
    register_takedowns,
    without_takedowns,
)

__all__ = ["IncrementalDeduper"]

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)


def _sig_schema(k: int) -> T.StructType:
    # shs holds xxhash64(shingle), not the shingle text: Jaccard over an
    # injective-enough hash equals Jaccard over the strings (64-bit
    # collision odds ~1e-8 at 1M distinct shingles), the sig table stores
    # 8 bytes per shingle instead of its text, and the exact-rescore
    # array_intersect compares longs instead of strings
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("shs", T.ArrayType(T.LongType())),
            *[T.StructField(f"mh_{i}", T.LongType()) for i in range(k)],
            T.StructField("batch_seq", T.LongType()),
        ]
    )


_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("bk", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)

# append-only df deltas; readers SUM per sh (compaction-safe)
_DFREQ_SCHEMA = T.StructType(
    [
        T.StructField("sh", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)


class IncrementalDeduper:
    """Persistent MinHash-LSH dedup state + per-batch ingest.

    ``add_batch(docs)`` returns the NEW near-dup pairs this batch creates
    (new-new and old-new; old-old pairs were reported when their batch
    arrived) and commits the batch's signatures + band index.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 24,
        n_bands: int = 8,
        n: int = 3,
        threshold: float = 0.85,
        portable: bool = False,
        max_bucket_size: int = 1000,
        num_buckets: int = 32,
        max_shingle_docs: int | None = None,
    ):
        if k % n_bands != 0:
            raise ValueError(f"k ({k}) must be divisible by n_bands ({n_bands})")
        self.spark = spark
        self.path = os.path.abspath(path)
        self.k, self.n_bands, self.n = k, n_bands, n
        self.threshold = threshold
        self.portable = portable
        self.max_bucket_size = max_bucket_size
        self.max_shingle_docs = max_shingle_docs
        # the batch path's fixed expressions, built once per store: the
        # per-document aggregates (shingle-hash set and k MinHash minima)
        # and the band keys, which :meth:`_band_index_rows` explodes
        self._perdoc_aggs = [
            F.collect_set(F.xxhash64("shingle")).alias("shs"),
            *[F.min(h).alias(f"mh_{i}")
              for i, h in enumerate(_derived(base31("shingle", portable), k))],
        ]
        self._band_keys = F.posexplode(_minhash_band_keys(k, n_bands)).alias("band", "bk")
        sig_path = os.path.join(self.path, "sigs")
        buck_path = os.path.join(self.path, "buckets")
        df_path = os.path.join(self.path, "dfreq")
        self.sigs = LakeTable(spark, sig_path)
        self.buckets = LakeTable(spark, buck_path)
        self.dfreq = LakeTable(spark, df_path) if max_shingle_docs is not None else None
        if not self.sigs.exists():
            self.sigs = LakeTable.create(
                spark, sig_path, _sig_schema(k), num_buckets=num_buckets,
                properties={"batch_seq": 0, "k": k, "n_bands": n_bands, "n": n,
                            "portable": portable,
                            # JSON null can't distinguish "uncapped" from
                            # "pre-upgrade store": encode None as "none"
                            "max_shingle_docs": max_shingle_docs
                            if max_shingle_docs is not None else "none"},
            )
        else:
            # a mismatched reopen would compute band keys / minhashes for
            # new batches inconsistently with the persisted index —
            # old-new candidates silently missed forever. Validate every
            # parameter that shapes the stored signatures (properties a
            # pre-upgrade store never wrote are skipped).
            props = self.sigs.properties
            mine_cap = max_shingle_docs if max_shingle_docs is not None else "none"
            for name, mine in (
                ("k", k), ("n_bands", n_bands), ("n", n), ("portable", portable),
                ("max_shingle_docs", mine_cap),
            ):
                stored = props.get(name)
                if stored is not None and stored != mine:
                    if name == "max_shingle_docs" and stored == "none" and (
                        max_shingle_docs is not None
                    ):
                        # ENABLING the cap on an uncapped store is a safe
                        # upgrade: recover()'s tolerant roll-forward
                        # backfills dfreq from all stored signature sets
                        # (the cap is a drifting belt by design — already-
                        # stored sigs legitimately keep their uncapped
                        # shingles). Disabling or CHANGING a cap stays an
                        # error: the stored value below is re-stamped so
                        # later reopens validate against the new cap.
                        continue
                    raise ValueError(
                        f"store at {self.path} was created with {name}={stored}; "
                        f"reopening with {name}={mine} would desynchronize new "
                        "signatures from the persisted index"
                    )
        if not self.buckets.exists():
            self.buckets = LakeTable.create(
                spark, buck_path, _BUCKET_SCHEMA, num_buckets=num_buckets,
                properties={"batch_seq": 0},
            )
        # shares sigs' num_buckets: one id-bucket list prunes both reads
        self.deleted = open_registry(
            spark, os.path.join(self.path, "deleted"), self.sigs
        )
        if self.dfreq is not None and not self.dfreq.exists():
            self.dfreq = LakeTable.create(
                spark, df_path, _DFREQ_SCHEMA, num_buckets=num_buckets,
                properties={"batch_seq": 0},
            )
            if int(self.sigs.properties.get("batch_seq", 0)) > 0:
                # cap enabled on a pre-existing store (upgrade): stamp the
                # cap into sigs properties (a properties-only commit) so
                # later reopens validate against it. The df backfill itself
                # is recover()'s tolerant roll-forward — it runs before the
                # next batch touches dfreq and is crash-safe because the
                # deltas are a pure function of the stored sigs.
                self.sigs.commit_properties({"max_shingle_docs": max_shingle_docs})

    # ------------------------------------------------------------ internals

    def _band_index_rows(self, sig_df: DataFrame, batch_seq) -> DataFrame:
        return sig_df.select(
            self._band_keys,
            F.col("id"),
            F.lit(batch_seq).cast("long").alias("batch_seq"),
        )

    def _df_deltas(self, sig_df: DataFrame, batch_seq, sign: int = 1) -> DataFrame:
        """``sign`` x per-shingle document counts of ``sig_df``'s stored
        (post-cap) shingle sets: one dfreq delta stamped ``batch_seq``."""
        cnt = F.count("*") if sign > 0 else -F.count("*")
        return (
            sig_df.select(F.explode("shs").alias("sh"))
            .groupBy("sh")
            .agg(cnt.alias("cnt"))
            .withColumn("batch_seq", F.lit(batch_seq).cast("long"))
            .withColumn("bucket", self.dfreq.bucket_expr("sh"))
        )

    def recover(self) -> bool:
        """Roll forward a crash between the sigs and buckets commits.

        Returns True if recovery ran. The dangling batch's index rows are
        recomputed from the mh columns of its sigs rows, found by
        ``filter(batch_seq == sig_seq)`` rather than a snapshot file-diff:
        the filter stays correct even if a compaction committed between
        the crash and the recovery (compaction preserves rows but
        invalidates the latest commit's file-diff as a batch identifier —
        recovering from the diff would both miss the dangling docs and
        re-append compacted rows). Appends write per-batch files, so the
        batch_seq predicate prunes untouched files via parquet row-group
        stats on the rare runs this path executes at all."""
        ran = False
        sig_seq = int(self.sigs.properties.get("batch_seq", 0))
        buck_seq = int(self.buckets.properties.get("batch_seq", 0))
        if sig_seq != buck_seq:
            if sig_seq != buck_seq + 1:
                raise RuntimeError(
                    f"dedup store corrupt: sigs at batch {sig_seq}, band index at "
                    f"{buck_seq} — more than one dangling batch should be impossible"
                )
            dangling = self.sigs.read().filter(
                F.col("batch_seq") == F.lit(sig_seq)
            ).drop("batch_seq")
            rows = self._band_index_rows(dangling, sig_seq)
            self.buckets.commit_append(
                rows.withColumn("bucket", self.buckets.bucket_expr("band", "bk")),
                properties={"batch_seq": sig_seq},
                expected_version=self.buckets.version,
            )
            ran = True
        if self.dfreq is not None:
            df_seq = int(self.dfreq.properties.get("batch_seq", 0))
            if df_seq != sig_seq:
                if df_seq > sig_seq:
                    raise RuntimeError(
                        f"dedup store corrupt: sigs at batch {sig_seq}, dfreq at "
                        f"{df_seq} — the df table can never run ahead of sigs"
                    )
                # tolerate ANY lag, not just the single-batch crash
                # window: lag 1 is the normal die-between-commits case;
                # lag > 1 is the cap-enable UPGRADE path — a pre-upgrade
                # store (ingested without max_shingle_docs) reopened with
                # the cap gets a fresh dfreq at batch_seq=0, and this
                # roll-forward backfills it from ALL stored signature
                # sets. Deltas are a pure function of the stored POST-cap
                # sets either way (pre-upgrade sigs were computed
                # uncapped, so the backfilled df correctly counts the
                # boilerplate shingles those docs kept); readers only SUM
                # cnt per sh, so one combined delta stamped sig_seq is
                # exactly equivalent to the per-batch deltas it replaces.
                self.dfreq.commit_append(
                    self._df_deltas(
                        self.sigs.read().filter(F.col("batch_seq") > F.lit(df_seq)),
                        sig_seq,
                    ),
                    properties={"batch_seq": sig_seq},
                    expected_version=self.dfreq.version,
                )
                ran = True
        return ran

    def maintain(
        self, max_files_per_bucket: int = 8, keep_snapshots: int = 10
    ) -> dict[str, int]:
        """Background maintenance: compact buckets that accumulated too
        many per-batch append files, then expire superseded snapshots.

        add_batch appends >=1 file per lake bucket per batch, so after B
        batches a band-key read opens O(B) files per pruned bucket;
        compaction restores O(1). Pure physical rewrite — pair output is
        unaffected (tests pin parity) — and safe beside a live writer
        (LakeTable.compact skips buckets that change under it).

        Any dangling batch is rolled forward FIRST: compacting across a
        crash window would otherwise commit a new sigs snapshot while the
        band index still lacks the dangling batch's rows — and the
        recovery must run before maintenance mutates the store it reads.
        Pending takedowns are then physically purged (see
        :meth:`purge_deleted`) before compaction, so the compacted files
        no longer carry deleted docs' rows. The takedown registry is
        compacted too: every add_batch known-id mask opens its files."""
        out: dict[str, int] = {"recovered": int(self.recover())}
        out.update(self.purge_deleted())
        tables = [("sigs", self.sigs), ("buckets", self.buckets), ("deleted", self.deleted)]
        if self.dfreq is not None:
            tables.append(("dfreq", self.dfreq))
        for name, table in tables:
            out.update(compact_and_expire(
                table, f"{name}_", max_files_per_bucket, keep_snapshots
            ))
        return out

    # ------------------------------------------------------------- takedown

    def delete(self, ids, id_col: str = "doc_id") -> int:
        """Take down documents: logically delete them from the store.

        One append to the ``deleted`` registry
        (:func:`~.maintenance.register_takedowns`) — never a rewrite of
        corpus state on the takedown path (the physical drop is
        :meth:`purge_deleted`, a maintenance operation). Effective
        immediately on every read path: deleted docs stop appearing in
        new pairs (add_batch) and re-derived pairs (redelivered_pairs),
        and a redelivered deleted doc is NOT re-ingested (deletion is
        terminal for an id — the registry doubles as the no-reingest
        memory, mirroring how the CDC table's op='D' tombstones keep
        out-of-order deletes effective, operators/merge.py).

        ``ids``: a DataFrame carrying ``id_col``, or an iterable of ints.
        Returns the number of ids newly recorded (already-deleted and
        never-ingested ids are accepted and deduped — deleting ahead of
        delivery blocks the doc from ever entering the store)."""
        return register_takedowns(self.deleted, ids, id_col)

    def purge_deleted(self) -> dict[str, int]:
        """Physically drop deleted docs' rows from ``sigs`` and the band
        index (logical deletion already happened at :meth:`delete`; this
        reclaims space, restores band-bucket occupancy for the size cap,
        and keeps the mask anti-joins cheap). Run from :meth:`maintain`.

        Copy-on-write of ONLY the affected lake buckets; `deleted` rows
        are retained (no-reingest memory) and negative df deltas are
        appended so the persistent df-cap stops counting purged docs.
        Idempotent and crash-safe WITHOUT a recovery protocol: logical
        reads are already masked, every step is a pure function of
        durable state, and the ``purged_seq`` watermark (advanced last)
        only skips work, never changes results. Band-index rows are
        located from the sigs mh columns, so the index purge runs BEFORE
        the sigs purge; a crash in between leaves dangling index rows
        that the NEXT purge cannot locate — they are harmless (masked
        candidates die at the rescore join) and vanish at the next
        bucket-cap-triggering rewrite or store rebuild."""
        self.recover()
        out = {"purged_ids": 0, "sig_buckets_rewritten": 0,
               "index_buckets_rewritten": 0}
        targets, del_seq = pending_takedowns(self.deleted)
        if targets is None:
            return out
        n = targets.count()
        if n:
            # each rewrite is pinned to the version its keep-set was read
            # at: a concurrent add_batch append landing in between aborts
            # the purge (ConcurrentCommitError — rerun later) instead of
            # being silently erased by the stale full-bucket rewrite (the
            # same loss mode ADVICE r4 flagged for ANN's reassign)
            buck_v = self.buckets.version
            sig_buckets = lake_buckets_of(targets, self.sigs, "id")
            dsigs = (
                self.sigs.read(buckets=sig_buckets)
                .join(targets, "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            # 1) band index (needs the sigs mh columns, so it goes first)
            keys = self._band_index_rows(dsigs.drop("batch_seq"), 0).select("band", "bk")
            idx_buckets = lake_buckets_of(keys, self.buckets, "band", "bk")
            if idx_buckets:
                purge_buckets(
                    self.buckets, idx_buckets, targets,
                    self.buckets.bucket_expr("band", "bk"), buck_v,
                )
            # 2) sigs (after this, a crash-rerun finds no dsigs rows, so
            #    step 3 can never double-subtract)
            if sig_buckets:
                purge_buckets(
                    self.sigs, sig_buckets, targets,
                    self.sigs.bucket_expr("id"), self.sigs.version,
                )
            # 3) negative df deltas from the purged docs' post-cap sets
            #    (dsigs was checkpointed BEFORE the sigs rewrite). A crash
            #    between step 2 and here under-subtracts — the df then
            #    overcounts, which only makes the cap belt more
            #    conservative; the reverse order could double-subtract and
            #    resurrect boilerplate, which loses recall.
            if self.dfreq is not None:
                df_seq = int(self.dfreq.properties.get("batch_seq", 0))
                self.dfreq.commit_append(self._df_deltas(dsigs, df_seq, sign=-1))
            out.update(
                purged_ids=n,
                sig_buckets_rewritten=len(sig_buckets),
                index_buckets_rewritten=len(idx_buckets),
            )
        # advance the watermark LAST (a crash before this line re-runs the
        # purge, which is a no-op over already-purged rows)
        mark_purged(self.deleted, del_seq)
        return out

    # ----------------------------------------------------------- redelivery

    def redelivered_pairs(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Re-derive the near-dup pairs a FULLY-REDELIVERED batch produced
        when it was first ingested — entirely from durable store state.

        The exactly-once story for pair OUTPUT (not just store state): a
        driver that crashed after ``add_batch``'s commits but before
        persisting the returned pairs gets an empty frame on rerun (the
        id anti-join correctly drops the whole batch) — silently losing
        that batch's pairs downstream. This method closes the hole:
        given the same batch, it recomputes the pairs that batch emitted,
        so rerun-then-overwrite is idempotent (bin/dedup.py calls it
        automatically when a non-empty batch ingests zero new docs).

        Definition recomputed: pairs (a<b, jaccard >= threshold) with at
        least one endpoint in the batch and ``max(seq_a, seq_b)`` among
        the batch's ingest seq(s) — exactly the new-new + old-new set
        ``add_batch`` emitted. Everything needed is durable: band keys
        are pure functions of the stored mh columns, the exact rescore
        reads stored shingle-hash sets, and emitted-by is decided from
        the stored per-row batch_seq. All store reads are bucket-pruned
        (O(batch + candidates) files). One caveat mirrors add_batch's
        belt: the bucket-size cap is evaluated against CURRENT bucket
        occupancy, so a bucket that crossed the cap since the original
        ingest drops its candidates (at-least-once, never spurious
        pairs). Intended for exact redelivery of a previously-ingested
        batch; a batch mixing docs from several original batches returns
        the union of those batches' pairs touching the given docs."""
        empty = self.spark.createDataFrame([], PAIR_SCHEMA)
        ids = docs.select(F.col(id_col).cast("long").alias("id")).distinct()
        id_lake_buckets = lake_buckets_of(ids, self.sigs, "id")
        # takedown mask: a deleted doc's original pairs are not
        # re-derivable (its content is logically gone)
        mine = without_takedowns(
            self.sigs.read(buckets=id_lake_buckets).join(ids, "id", "left_semi"),
            self.deleted, id_lake_buckets,
        ).localCheckpoint(eager=True)
        seqs = sorted(
            int(r["batch_seq"]) for r in mine.select("batch_seq").distinct().collect()
        )
        if not seqs:
            return empty

        # band keys from the stored mh columns -> candidate ids from the
        # stored index (includes the batch itself: it's stored now, so
        # new-new and old-new candidates both fall out of one expansion)
        nb = self._band_index_rows(mine.drop("batch_seq"), 0).select("band", "bk")
        key_lake_buckets = lake_buckets_of(nb, self.buckets, "band", "bk")
        key_set = nb.distinct()
        stored = (
            self.buckets.read(buckets=key_lake_buckets)
            .join(F.broadcast(key_set), ["band", "bk"], "left_semi")
            .groupBy("band", "bk")
            .agg(F.collect_set("id").alias("bucket_ids"))
            .filter(F.size("bucket_ids") <= self.max_bucket_size)
        )
        cand = (
            stored.select(F.explode("bucket_ids").alias("id_a"), "bucket_ids")
            .select("id_a", F.explode("bucket_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        # >=1 endpoint must be in the redelivered batch
        cand = (
            cand.join(mine.select(F.col("id").alias("id_a")), "id_a", "left_semi")
            .unionByName(
                cand.join(mine.select(F.col("id").alias("id_b")), "id_b", "left_semi")
            )
            .distinct()
        )

        cids = cand.select(F.col("id_a").alias("id")).unionByName(
            cand.select(F.col("id_b").alias("id"))
        ).distinct()
        cand_lake_buckets = lake_buckets_of(cids, self.sigs, "id")
        csigs = without_takedowns(
            self.sigs.read(buckets=cand_lake_buckets).join(cids, "id", "left_semi"),
            self.deleted, cand_lake_buckets,
        ).select("id", "shs", "batch_seq")
        a = csigs.select(
            F.col("id").alias("id_a"), F.col("shs").alias("shs_a"),
            F.col("batch_seq").alias("seq_a"),
        )
        b = csigs.select(
            F.col("id").alias("id_b"), F.col("shs").alias("shs_b"),
            F.col("batch_seq").alias("seq_b"),
        )
        inter = F.size(F.array_intersect("shs_a", "shs_b"))
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .filter(F.greatest("seq_a", "seq_b").isin(seqs))
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter / (F.size("shs_a") + F.size("shs_b") - inter), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .localCheckpoint(eager=True)
        )

    # --------------------------------------------------------------- ingest

    def add_batch(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        stats: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Ingest one batch; return its NEW near-dup pairs
        (id_a < id_b, jaccard >= threshold, at least one side new).

        The returned frame is eagerly localCheckpoint'ed, so it stays
        valid after the commits and carries no store lineage.
        """
        t0 = time.monotonic()
        ran_recovery = self.recover()
        batch_seq = int(self.sigs.properties.get("batch_seq", 0)) + 1
        sig_v, buck_v = self.sigs.version, self.buckets.version
        df_v = self.dfreq.version if self.dfreq is not None else None

        ids = docs.select(F.col(id_col).cast("long").alias("id"))
        id_lake_buckets = lake_buckets_of(ids, self.sigs, "id")
        # known = stored ids UNION deleted ids (deleted shares sigs'
        # num_buckets, so the same pruned bucket list serves both reads
        # and the takedown mask costs zero extra driver jobs); a
        # redelivered DELETED doc must never re-enter the store
        known = self.sigs.read(buckets=id_lake_buckets).select("id").unionByName(
            self.deleted.read(buckets=id_lake_buckets).select("id")
        )
        fresh = (
            _rebalance(docs)
            .select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
            .join(known, F.col(id_col) == known.id, "left_anti")
        )
        t_prune = time.monotonic()

        # ONE explosion of the batch -> per-doc shingle set + signature
        sh = shingles(fresh, text_col, id_col, self.n, max_shingle_docs=None)
        if self.dfreq is not None:
            # persistent df-cap: hot = shingles whose stored df (sum of
            # per-batch deltas, bucket-pruned to the BATCH's shingle
            # universe) plus this batch's df exceeds the cap. The hot set
            # is tiny (only ultra-common shingles) -> broadcast anti-join.
            batch_cnt = sh.groupBy(F.xxhash64("shingle").alias("sh")).agg(
                F.count("*").alias("bc")
            )
            df_lake_buckets = lake_buckets_of(batch_cnt, self.dfreq, "sh")
            stored_cnt = (
                self.dfreq.read(buckets=df_lake_buckets)
                .join(batch_cnt.select("sh"), "sh", "left_semi")
                .groupBy("sh")
                .agg(F.sum("cnt").alias("sc"))
            )
            hot = (
                batch_cnt.join(stored_cnt, "sh", "left")
                .filter(
                    F.col("bc") + F.coalesce(F.col("sc"), F.lit(0))
                    > F.lit(self.max_shingle_docs)
                )
                .select("sh")
            )
            sh = sh.join(
                F.broadcast(hot), F.xxhash64(sh.shingle) == hot.sh, "left_anti"
            )
        perdoc = sh.groupBy("id").agg(*self._perdoc_aggs).localCheckpoint(eager=True)
        t_sig = time.monotonic()

        # band keys of the batch; one aggregate over the checkpointed
        # signatures gives n_new (one band-0 row per document) AND the
        # band-key lake-bucket set (2 jobs under AQE: partial + final)
        newb = self._band_index_rows(perdoc, batch_seq)
        fused = newb.agg(
            F.count(F.when(F.col("band") == 0, 1)).alias("n"),
            F.collect_set(self.buckets.bucket_expr("band", "bk")).alias("bks"),
        ).first()
        n_new = int(fused["n"])
        key_lake_buckets = sorted(int(b) for b in fused["bks"])
        t_keys = time.monotonic()

        empty = self.spark.createDataFrame([], PAIR_SCHEMA)
        if n_new == 0:
            if stats is not None:
                stats.update(n_new=0, recovered=ran_recovery)
            return empty

        # old side: prune the band index to the lake buckets the batch's
        # keys hash into and SEMI-JOIN the batch's key set BEFORE
        # aggregating (the aggregate must see O(batch-matching) index
        # rows, never the whole stored index — groupBy-then-join would
        # re-aggregate the full corpus index every batch); then ONE
        # groupBy (band, bk) over the batch's rows and the matching index
        # rows collects both id lists
        snap_files = self.buckets.snapshot().files
        stored = (
            self.buckets.read(buckets=key_lake_buckets)
            .select("band", "bk", "id")
            .join(F.broadcast(newb.select("band", "bk")), ["band", "bk"], "left_semi")
        )
        is_new = F.col("is_new")
        combined = (
            newb.select("band", "bk", "id", F.lit(True).alias("is_new"))
            .unionByName(stored.withColumn("is_new", F.lit(False)))
            .groupBy("band", "bk")
            .agg(
                F.collect_set(F.when(is_new, F.col("id"))).alias("new_ids"),
                F.collect_set(F.when(~is_new, F.col("id"))).alias("old_ids"),
            )
            # bucket-size belt over the COMBINED occupancy (same rationale
            # as dedup.lsh_candidate_pairs — a mega-bucket is a
            # mass-duplicate signal, not a candidate source)
            .filter((F.size("new_ids") + F.size("old_ids")) <= self.max_bucket_size)
        )
        new_new = (
            combined.filter(F.size("new_ids") >= 2)
            .select(F.explode("new_ids").alias("id_a"), "new_ids")
            .select("id_a", F.explode("new_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(None).cast("long").alias("oid"))
        )
        # oid: the stored endpoint of an old-new pair (null for new-new);
        # a pair's oid is a function of the pair, so it rides the distinct
        old_new = (
            combined.filter(F.size("old_ids") >= 1)
            .select(F.explode("old_ids").alias("oid"), "new_ids")
            .select("oid", F.explode("new_ids").alias("nid"))
            .select(
                F.least("oid", "nid").alias("id_a"),
                F.greatest("oid", "nid").alias("id_b"),
                "oid",
            )
        )
        # eager checkpoint: the candidate set feeds BOTH the driver
        # aggregate below and the rescore join — without it the whole
        # index join + explosion subtree executes twice
        cand = new_new.unionByName(old_new).distinct().localCheckpoint(eager=True)
        # one aggregate over the checkpoint: candidate count AND the sigs
        # lake buckets of the stored endpoints
        oid = F.col("oid")
        cagg = cand.agg(
            F.count("*").alias("n"),
            F.collect_set(F.when(oid.isNotNull(), self.sigs.bucket_expr("oid"))).alias("b"),
        ).first()
        n_candidates = int(cagg["n"])
        old_lake_buckets = sorted(int(b) for b in cagg["b"])
        t_cand = time.monotonic()

        # exact rescore: shingle sets from the in-flight batch plus a
        # bucket-pruned read of ONLY the candidate old docs' sig rows;
        # anti-join the takedown registry (pruned by the same buckets): a
        # not-yet-purged deleted doc still has sig rows, and pairs against
        # it must not be emitted — without its sig row the candidate dies
        # at the inner rescore join below
        # (the broadcast carries at most one long per candidate pair; the
        # checkpoint's size is unknown to the planner, which would
        # otherwise shuffle both sides before AQE switches to a broadcast)
        old_ids = cand.select(oid.alias("id")).filter(F.col("id").isNotNull())
        old_sigs = without_takedowns(
            self.sigs.read(buckets=old_lake_buckets)
            .join(F.broadcast(old_ids), "id", "left_semi"),
            self.deleted, old_lake_buckets,
        ).select("id", "shs")
        allsigs = perdoc.select("id", "shs").unionByName(old_sigs)
        # both sides join the SAME frame, so their broadcasts are one
        # exchange (reused), not two builds of the union
        sa, sb = allsigs.alias("sa"), allsigs.alias("sb")
        inter = F.size(F.array_intersect("sa.shs", "sb.shs"))
        pairs = (
            cand.join(sa, F.col("id_a") == F.col("sa.id"))
            .join(sb, F.col("id_b") == F.col("sb.id"))
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter / (F.size("sa.shs") + F.size("sb.shs") - inter), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .localCheckpoint(eager=True)  # valid past the commits below
        )
        t_rescore = time.monotonic()

        # two-phase append: sigs first, buckets second (recover() rolls
        # the index forward if we die in between)
        self.sigs.commit_append(
            perdoc.withColumn("batch_seq", F.lit(batch_seq).cast("long"))
            .withColumn("bucket", self.sigs.bucket_expr("id")),
            properties={"batch_seq": batch_seq},
            expected_version=sig_v,
        )
        self.buckets.commit_append(
            newb.withColumn("bucket", self.buckets.bucket_expr("band", "bk")),
            properties={"batch_seq": batch_seq},
            expected_version=buck_v,  # captured after recover(), so exact
        )
        if self.dfreq is not None:
            # third phase of the append sequence; deltas recomputed from
            # perdoc.shs (the POST-cap sets — identical to what recover()
            # would rebuild from the committed sigs rows)
            self.dfreq.commit_append(
                self._df_deltas(perdoc, batch_seq),
                properties={"batch_seq": batch_seq},
                expected_version=df_v,
            )
        t_commit = time.monotonic()

        if stats is not None:
            total_files = sum(len(fl) for fl in snap_files.values())
            read_files = sum(
                len(snap_files.get(str(bkt), [])) for bkt in key_lake_buckets
            )
            stats.update(
                n_new=n_new,
                batch_seq=batch_seq,
                recovered=ran_recovery,
                n_candidates=n_candidates,
                index_files_total=total_files,
                index_files_read=read_files,
                index_lake_buckets_read=len(key_lake_buckets),
                index_lake_buckets_total=self.buckets.num_buckets,
                sig_lake_buckets_read=len(old_lake_buckets),
                timings={
                    "prune": round(t_prune - t0, 3),
                    "signatures": round(t_sig - t_prune, 3),
                    "band_keys": round(t_keys - t_sig, 3),
                    "candidates": round(t_cand - t_keys, 3),
                    "rescore": round(t_rescore - t_cand, 3),
                    "commits": round(t_commit - t_rescore, 3),
                },
            )
        return pairs
