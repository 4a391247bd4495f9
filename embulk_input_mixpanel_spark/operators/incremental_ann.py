"""Incremental ANN: a persistent IVF index where the lake bucketing IS
the index.

Batch-mode IVF (operators/similarity.py::ivf_topk) re-assigns the whole
corpus per query run. A training pipeline ingests embeddings
INCREMENTALLY (the reference's whole design is incremental windows —
export_service.rb:59-65), so the index must be incremental too: per new
batch, assign ONLY the new vectors against frozen centroids (a broadcast
join + max-of-struct argmax, O(batch)) and append them to a lake table
bucketed BY CLUSTER with ``num_buckets == n_centroids``. That makes the
physical layout the inverted file: probing a cluster == opening exactly
that lake bucket's parquet files, so a top-k probe reads
``n_probe / n_centroids`` of the corpus bytes at any corpus size — the
file-level pruning the IVF paper promises, realized through snapshot
file lists instead of a custom storage engine.

Three lake tables:
- ``cent``    (centroid_id int, cv array<double>) — the tiny broadcast
  dim, trained once from the FIRST non-empty batch (the ``n_centroids``
  lowest-id vectors, matching similarity.ivf_assign's deterministic
  seeding so the incremental path is oracle-comparable against the
  one-shot SQL); re-trained only by an explicit :meth:`retrain`.
  Carries ``epoch`` (bumped per (re)train) — the consistency token
  between centroids and stored assignments.
- ``vectors`` (id long, v array<double>, cluster int, cos_r double,
  batch_seq long), bucket = cluster. Carries ``cent_epoch``: the epoch
  its cluster assignments were computed against.
- ``ids``     (id long, batch_seq long), bucket = id — the idempotence
  index. Redelivery filtering anti-joins the batch against ONLY the lake
  buckets its own ids hash into, so the known-id scan is O(batch) files
  at any corpus size (the structure ``vectors`` itself cannot provide:
  it is bucketed by cluster, which a new vector's id says nothing
  about). Mirrors IncrementalDeduper's sigs-table pruning.
- ``deleted`` (id long, batch_seq long), bucket = id — the takedown
  registry shared with IncrementalDeduper (operators/maintenance.py):
  :meth:`delete` appends ids O(batch); probes mask them immediately;
  :meth:`purge_deleted` / :meth:`retrain` drop the vector rows
  physically, and the purge advances the registry's ``purged_seq``
  watermark with a properties-only commit. Rows are kept forever
  (no-reingest memory).

Crash consistency (:meth:`recover`, called at the top of
:meth:`add_batch` and :meth:`maintain`):
- ``vectors`` commits before ``ids`` with the same ``batch_seq``; a
  crash in between is rolled FORWARD by rebuilding the dangling batch's
  id rows from ``vectors.read().filter(batch_seq == seq)`` — a
  column-pruned scan whose batch_seq predicate prunes via parquet
  row-group stats (appends write per-batch files), and which stays
  correct even if a compaction ran in between (file-diff recovery would
  not — the lesson from the deduper's recover()).
- :meth:`retrain` commits ``cent`` (epoch e+1) before the vectors
  rewrite; a crash or optimistic-concurrency abort in between leaves
  ``vectors.cent_epoch < cent.epoch``, which recover() heals by
  re-assigning the stored corpus against the current centroids — a pure
  function of durable state, so the roll-forward is idempotent.

Idempotence: redelivered ids are dropped by the bucket-pruned anti-join
above. Concurrent writers are rejected by the tables' optimistic version
guard; an ingest that raced a retrain aborts (and the store heals via
recover) rather than publishing assignments against superseded
centroids.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.lake import ConcurrentCommitError, LakeTable, lake_buckets_of
from .dedup import _rebalance
from .maintenance import (
    compact_and_expire,
    mark_purged,
    open_registry,
    pending_takedowns,
    purge_buckets,
    register_takedowns,
    without_takedowns,
)
from .similarity import _cosine_n, _norm, _to_double

__all__ = ["IncrementalANN"]

_CENT_SCHEMA = T.StructType(
    [
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ]
)


_VEC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("cos_r", T.DoubleType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)

_ID_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)


class _Expressions:
    """The fixed Columns of the ingest and probe paths, built once per
    store instance (never at import: building a Column needs an active
    SparkContext). Only per-call values — the batch's ``batch_seq``, the
    probed ids, ``k`` and ``n_probe`` — are built per call."""

    def __init__(self):
        self.centroid_vector = F.col("cv").alias("_cv")
        # _score_against_centroids: the centroids as one array of
        # (cid, cv, cn) structs, and the per-vector argmax fold over it
        self.centroid_array = F.collect_list(
            F.struct(
                F.col("centroid_id").alias("cid"),
                F.col("_cv").alias("cv"),
                _norm("_cv").alias("cn"),
            )
        ).alias("_cents")
        self.vector_norm = _norm("v")
        self.best_centroid = F.array_max(
            F.transform(
                "_cents",
                lambda c: F.struct(
                    F.round(_cosine_n("v", c["cv"], F.col("_vn"), c["cn"]), 4).alias("c"),
                    (-c["cid"]).alias("negid"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        self.assignment = [F.col("_w.cid").alias("cluster"), F.col("_w.c").alias("cos_r")]
        self.cluster_bucket = F.col("cluster").alias("bucket")
        # topk: query x centroid probe choice, then query x neighbor rescore
        self.query_norm = _norm("_qv").alias("_qn")
        self.centroid_norm = _norm("_cv").alias("_cn")
        self.centroid_cos = F.round(
            _cosine_n("_qv", "_cv", F.col("_qn"), F.col("_cn")), 4
        ).alias("ccos")
        self.probe_rank = F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
        )
        self.probed_cluster = F.col("centroid_id").alias("cluster")
        self.neighbor = [F.col("id").alias("neighbor_id"), F.col("v").alias("_nv")]
        self.neighbor_norm = _norm("_nv").alias("_nn")
        self.not_self = F.col("neighbor_id") != F.col("query_id")
        self.neighbor_cos = F.round(
            _cosine_n("_qv", "_nv", F.col("_qn"), F.col("_nn")), 4
        ).alias("cos_r")
        self.neighbor_rank = F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("neighbor_id"))
        ).cast("long")


class IncrementalANN:
    """Persistent IVF index + per-batch ingest + bucket-pruned probes."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_centroids: int | None = None,
        id_buckets: int = 32,
    ):
        """``n_centroids``: index fanout at CREATION (default 8). On
        reopen the STORED value is authoritative (it can have grown via
        ``retrain(n_centroids=...)``); passing an explicit value that
        disagrees raises — the bucket layout follows the store, not the
        caller."""
        self.spark = spark
        self.path = os.path.abspath(path)
        self._x = _Expressions()
        cent_path = os.path.join(self.path, "cent")
        vec_path = os.path.join(self.path, "vectors")
        ids_path = os.path.join(self.path, "ids")
        self.cent = LakeTable(spark, cent_path)
        self.vectors = LakeTable(spark, vec_path)
        self.ids = LakeTable(spark, ids_path)
        if not self.cent.exists():
            self.n_centroids = 8 if n_centroids is None else int(n_centroids)
            self.cent = LakeTable.create(
                spark, cent_path, _CENT_SCHEMA, num_buckets=1,
                properties={"trained": False, "n_centroids": self.n_centroids,
                            "epoch": 0},
            )
        else:
            stored = int(self.cent.properties.get("n_centroids", n_centroids or 8))
            if n_centroids is not None and stored != int(n_centroids):
                raise ValueError(
                    f"store at {self.path} currently has n_centroids={stored}; "
                    f"reopening with n_centroids={n_centroids} would probe a "
                    "bucket layout the stored assignments don't follow — grow "
                    "the fanout with retrain(n_centroids=...) instead"
                )
            self.n_centroids = stored
        if not self.vectors.exists():
            # bucket == cluster: the bucketing IS the inverted file
            self.vectors = LakeTable.create(
                spark, vec_path, _VEC_SCHEMA, num_buckets=self.n_centroids,
                properties={"batch_seq": 0, "cent_epoch": 0},
            )
        if not self.ids.exists():
            self.ids = LakeTable.create(
                spark, ids_path, _ID_SCHEMA, num_buckets=id_buckets,
                properties={"batch_seq": 0},
            )
            # pre-id-index store (older layout): backfill so idempotence
            # filtering stays correct for already-ingested batches
            vec_seq = int(self.vectors.properties.get("batch_seq", 0))
            if vec_seq > 0:
                rows = self.vectors.read().select("id", "batch_seq")
                self.ids.commit_append(
                    rows.withColumn("bucket", self.ids.bucket_expr("id")),
                    properties={"batch_seq": vec_seq},
                )
        # shares ids' num_buckets: one id-bucket list prunes both reads
        self.deleted = open_registry(
            spark, os.path.join(self.path, "deleted"), self.ids
        )

    # ------------------------------------------------------------ internals

    def _centroids(self) -> DataFrame:
        return self.cent.read().select("centroid_id", self._x.centroid_vector)

    def _train_from(self, vecs: DataFrame) -> None:
        """Seed centroids = the ``n_centroids`` lowest-id vectors of the
        first NON-EMPTY batch (deterministic — mirrors
        similarity.ivf_assign, so the one-shot SQL oracle stays
        expressible). Production retrains with :meth:`retrain` once
        enough data has arrived. Callers guarantee ``vecs`` is non-empty:
        committing trained=True from an empty frame would freeze ZERO
        centroids and silently ingest nothing forever after."""
        # TakeOrderedAndProject (distributed top-n) first; the window only
        # ranks the n_centroids survivors — never a global sort
        low = vecs.orderBy("id").limit(self.n_centroids)
        w = Window.orderBy("id")
        self._commit_centroids(
            low.withColumn("_rn", F.row_number().over(w))
            .select(
                (F.col("_rn") - 1).cast("int").alias("centroid_id"),
                F.col("v").alias("cv"),
            )
        )

    def _commit_centroids(self, cent: DataFrame, **properties: Any) -> None:
        """Replace the centroids with ``cent`` and bump their epoch."""
        epoch = int(self.cent.properties.get("epoch", 0)) + 1
        self.cent.commit_rewrite(
            cent.withColumn("bucket", F.lit(0)),
            touched_buckets=[0],
            properties={"trained": True, "epoch": epoch, **properties},
            expected_version=self.cent.version,
        )

    def _live_corpus(self) -> DataFrame:
        """(id, v, batch_seq) of every stored vector not taken down."""
        return without_takedowns(self.vectors.read(), self.deleted).select(
            "id", "v", "batch_seq"
        )

    def _score_against_centroids(self, vecs: DataFrame) -> DataFrame:
        """(id, v, ...) -> the same rows plus (cluster, cos_r).

        The centroids travel as ONE broadcast row holding their array;
        each vector folds against every centroid in its own row and keeps
        the max-of-struct (cos_r, -centroid_id) — the argmax of
        similarity.ivf_assign with the same cosine expression and the
        same tie-break, but no shuffle and no join back to the vectors."""
        x = self._x
        cents = self._centroids().coalesce(1).agg(x.centroid_array)
        return (
            vecs.withColumn("_vn", x.vector_norm)
            .crossJoin(F.broadcast(cents))
            .withColumn("_w", x.best_centroid)
            .select(*vecs.columns, *x.assignment)
        )

    def _reassign_all(self) -> None:
        """Rewrite every stored vector's assignment against the CURRENT
        centroids and stamp the table with the centroids' epoch — the
        roll-forward half of retrain, also used by recover() when a crash
        or raced writer left assignments behind the centroid epoch. Pure
        function of durable state, so re-running it is idempotent.

        The rewrite is guarded by the version the corpus was READ at: a
        concurrent add_batch whose vectors append lands between our read
        and our rewrite would otherwise be silently erased by the stale
        full rewrite (its ids append still lands, so its vectors would be
        forever 'known' yet absent — unrecoverable even by redelivery).
        On ConcurrentCommitError the epoch mismatch simply persists and
        the next recover() re-heals it against fresher state.

        A FULL rewrite by definition, so it always (re-)buckets the table
        to the current centroid fanout — which is how recover() heals a
        crash between a growing retrain's centroid commit and its vectors
        rewrite (the re-bucket rides the same roll-forward)."""
        epoch = int(self.cent.properties.get("epoch", 0))
        nc = int(self.cent.properties.get("n_centroids", self.n_centroids))
        vec_v = self.vectors.version
        # the live corpus: the full rewrite doubles as a physical purge of
        # deleted vectors
        newassign = self._score_against_centroids(self._live_corpus())
        self.vectors.commit_rewrite(
            newassign.select(
                "id", "v", "cluster", "cos_r", "batch_seq", self._x.cluster_bucket
            ),
            touched_buckets=list(range(nc)),
            properties={"cent_epoch": epoch},
            expected_version=vec_v,
            num_buckets=nc,
        )
        self.n_centroids = nc

    def recover(self) -> bool:
        """Roll forward any interrupted multi-table commit sequence.

        Two healable states (see module doc): a dangling vectors batch
        whose id-index rows never committed, and a centroid epoch ahead
        of the stored assignments (crashed/aborted retrain). Both
        roll-forwards are pure functions of durable state. Returns True
        if any recovery ran."""
        ran = False
        vec_seq = int(self.vectors.properties.get("batch_seq", 0))
        id_seq = int(self.ids.properties.get("batch_seq", 0))
        if vec_seq != id_seq:
            if vec_seq < id_seq:
                raise RuntimeError(
                    f"ANN store corrupt: vectors at batch {vec_seq}, id index at "
                    f"{id_seq} — the id index can never run ahead of vectors"
                )
            # tolerate ANY lag, not just the single-batch crash window:
            # lag 1 is the normal die-between-commits case; lag > 1 is a
            # pre-id-index store whose creation-time backfill crashed
            # between LakeTable.create and the backfill append (ids stuck
            # at batch_seq=0 forever). Both heal the same way — the id
            # rows are a pure projection of the durable vectors rows, so
            # rebuild everything the index is missing. filter-by-
            # batch_seq, NOT a snapshot file-diff: stays correct even if
            # a compaction committed after the crash.
            dangling = self.vectors.read().filter(
                F.col("batch_seq") > F.lit(id_seq)
            ).select("id", "batch_seq")
            self.ids.commit_append(
                dangling.withColumn("bucket", self.ids.bucket_expr("id")),
                properties={"batch_seq": vec_seq},
                expected_version=self.ids.version,
            )
            ran = True
        nc = int(self.cent.properties.get("n_centroids", self.n_centroids))
        if int(self.vectors.properties.get("cent_epoch", 0)) != int(
            self.cent.properties.get("epoch", 0)
        ) or self.vectors.num_buckets != nc:
            # epoch lag (crashed/aborted retrain) or bucket-layout lag (a
            # growing retrain crashed before its vectors rewrite) — one
            # roll-forward heals both
            self._reassign_all()
            ran = True
        return ran

    # --------------------------------------------------------------- ingest

    def add_batch(
        self,
        batch: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        stats: dict[str, Any] | None = None,
    ) -> int:
        """Assign + append one batch of vectors; returns rows ingested.

        O(batch): a bucket-pruned known-id anti-join (only the id-index
        files the batch's own ids hash into are opened), a per-row score
        of the new vectors against the broadcast centroids, one append
        commit per table (new files only)."""
        ran_recovery = self.recover()
        batch_seq = int(self.vectors.properties.get("batch_seq", 0)) + 1
        vec_v = self.vectors.version

        # idempotence: drop redelivered ids via the id-bucketed index —
        # the scan opens only the lake buckets the BATCH's ids hash into,
        # never the whole corpus' id files
        batch_id_buckets = lake_buckets_of(
            batch.select(F.col(id_col).cast("long").alias("id")), self.ids, "id"
        )
        ids_snap = self.ids.snapshot()
        # known = stored ids UNION deleted ids (same num_buckets, so one
        # pruned bucket list serves both): a redelivered DELETED vector —
        # or one deleted ahead of delivery — never enters the store
        known = self.ids.read(buckets=batch_id_buckets).select("id").unionByName(
            self.deleted.read(buckets=batch_id_buckets).select("id")
        )
        vecs = _rebalance(batch).select(
            F.col(id_col).cast("long").alias("id"), _to_double(vec_col).alias("v")
        ).join(known, "id", "left_anti")
        if stats is not None:
            stats.update(
                recovered=ran_recovery,
                ids_files_read=sum(
                    len(ids_snap.files.get(str(b), [])) for b in batch_id_buckets
                ),
                ids_files_total=sum(len(fl) for fl in ids_snap.files.values()),
                ids_lake_buckets_read=len(batch_id_buckets),
                ids_lake_buckets_total=self.ids.num_buckets,
            )
        if not bool(self.cent.properties.get("trained")):
            # the first NON-EMPTY batch seeds the centroids; it is read
            # twice (training, scoring), so it is materialized first. An
            # empty training corpus would freeze trained=True with zero
            # centroids and poison every later ingest.
            vecs = vecs.localCheckpoint(eager=True)
            if vecs.count():
                self._train_from(vecs)
        cent_v = self.cent.version
        epoch = int(self.cent.properties.get("epoch", 0))

        out = self._score_against_centroids(vecs).select(
            "id", "v", "cluster", "cos_r",
            F.lit(batch_seq).cast("long").alias("batch_seq"),
            self._x.cluster_bucket,
        ).localCheckpoint(eager=True)
        # a count over materialized rows in one task: no exchange, one job
        n = out.coalesce(1).count()
        if n == 0:
            # empty (or fully-redelivered) batch: commit NOTHING
            if stats is not None:
                stats.update(n_new=0)
            return 0

        # a retrain that committed while we were scoring would make these
        # assignments stale — refuse to publish them (the epoch stamp +
        # recover() heal the residual race between this check and the
        # commit below)
        if self.cent.version != cent_v:
            raise ConcurrentCommitError(
                "centroids advanced during batch scoring (concurrent retrain); "
                "re-run add_batch"
            )
        # cent_epoch is a table-level invariant ("ALL stored assignments
        # conform to epoch X"), so an append may never advance it past the
        # existing stamp: if older rows lag the centroid epoch (a retrain
        # raced us between the check above and this commit), stamping the
        # batch's epoch would mask the pending re-assignment recover()
        # owes the older rows. First batch of an empty table stamps freely.
        prev_epoch = int(self.vectors.properties.get("cent_epoch", 0))
        stamp = epoch if batch_seq == 1 else min(prev_epoch, epoch)
        self.vectors.commit_append(
            out,
            properties={"batch_seq": batch_seq, "cent_epoch": stamp},
            expected_version=vec_v,
        )
        self.ids.commit_append(
            out.select("id", "batch_seq").withColumn("bucket", self.ids.bucket_expr("id")),
            properties={"batch_seq": batch_seq},
            expected_version=self.ids.version,
        )
        if stats is not None:
            stats.update(n_new=n, batch_seq=batch_seq)
        return n

    # ------------------------------------------------------------- takedown

    def delete(self, ids, id_col: str = "vec_id") -> int:
        """Take down vectors: logically delete them from the index.

        One append to the ``deleted`` registry
        (:func:`~.maintenance.register_takedowns`). Effective immediately:
        probes stop returning the vectors (as neighbors OR queries), a
        redelivered deleted vector is never re-ingested, and the next
        :meth:`retrain` / :meth:`purge_deleted` / epoch reassign drops the
        rows physically. Deletion is terminal for an id (the registry is
        the no-reingest memory — same role as the CDC table's op='D'
        tombstones, operators/merge.py).

        ``ids``: DataFrame carrying ``id_col``, or an iterable of ints.
        Returns the number of ids newly recorded."""
        return register_takedowns(self.deleted, ids, id_col)

    def purge_deleted(self) -> dict[str, int]:
        """Physically drop deleted ids' vector rows (CoW of only the
        clusters that hold them). The locating scan reads just the
        (id, cluster) columns of the corpus — a vector's cluster is not
        derivable from its id, so a columnar scan is the honest cost of a
        TARGETED purge (retrain purges for free as a full rewrite).
        Idempotent and crash-safe without a recovery protocol: logical
        reads are already masked and ``purged_seq`` (advanced last) only
        skips work. ``ids`` rows are retained as no-reingest memory."""
        self.recover()
        out = {"purged_ids": 0, "vector_buckets_rewritten": 0}
        targets, del_seq = pending_takedowns(self.deleted)
        if targets is None:
            return out
        # pinned to the version the keep-set is read at: a concurrent
        # append landing mid-purge aborts the purge instead of being
        # silently erased by the stale bucket rewrite
        vec_v = self.vectors.version
        hit = (
            self.vectors.read()
            .select("id", "cluster")
            .join(targets, "id", "left_semi")
            .select("cluster")
            .distinct()
        )
        clusters = sorted(int(r["cluster"]) for r in hit.collect())
        if clusters:
            purge_buckets(self.vectors, clusters, targets, F.col("cluster"), vec_v)
            out.update(
                purged_ids=targets.count(),
                vector_buckets_rewritten=len(clusters),
            )
        mark_purged(self.deleted, del_seq)
        return out

    # ---------------------------------------------------------------- query

    def topk(
        self,
        query_ids: list[int] | None = None,
        k: int = 3,
        n_probe: int = 2,
        stats: dict[str, Any] | None = None,
        query_vectors: DataFrame | None = None,
    ) -> DataFrame:
        """Bucket-pruned probed top-k over the STORED corpus.

        Opens only the probed clusters' lake buckets — the candidate scan
        reads ``n_probe/n_centroids`` of the files however large the
        corpus. Output schema matches similarity.ivf_topk
        (query_id, neighbor_id, cos_r, rnk).

        Queries come from ``query_ids`` (stored vectors, the parity/gate
        path) or ``query_vectors`` (a (query_id, v) frame of RAW vectors
        — the serving path: embed-then-search without ingesting the
        query; self-matches aren't excluded since the query isn't in the
        corpus unless its id is)."""
        if (query_ids is None) == (query_vectors is None):
            raise ValueError("pass exactly one of query_ids / query_vectors")
        x = self._x
        cent = self._centroids()
        if query_vectors is not None:
            q = query_vectors.select(
                F.col("query_id").cast("long").alias("query_id"),
                _to_double("v").alias("_qv"),
            )
        else:
            q = (
                self.vectors.read()
                .filter(F.col("id").isin([int(i) for i in query_ids]))
                .select(F.col("id").alias("query_id"), F.col("v").alias("_qv"))
            )
        # takedown mask: deleted vectors neither serve as queries nor
        # appear as neighbors (pre-purge their rows still exist in
        # `vectors`; the registry is small, AQE broadcasts the anti-join)
        gone = self.deleted.read().select("id")
        q = q.join(gone.withColumnRenamed("id", "query_id"), "query_id", "left_anti")
        # |q| rows; referenced by both the probe subtree and the rescore
        # join — checkpoint so the corpus scan behind it runs once
        q = q.select("query_id", "_qv", x.query_norm).localCheckpoint(eager=True)
        centn = cent.select("centroid_id", "_cv", x.centroid_norm)
        qc = F.broadcast(q).join(centn).select("query_id", "centroid_id", x.centroid_cos)
        # eager checkpoint: probed feeds BOTH the cluster collect below
        # (file pruning) and the candidate join — without it the
        # query x centroid score + window subtree executes twice per probe
        probed = (
            qc.withColumn("rn", x.probe_rank)
            .filter(F.col("rn") <= n_probe)
            .select("query_id", x.probed_cluster)
        ).localCheckpoint(eager=True)
        # driver collect of <= |q| * n_probe small ints -> file-level pruning
        clusters = sorted({int(r["cluster"]) for r in probed.collect()})
        snap_files = self.vectors.snapshot().files
        cand_src = self.vectors.read(buckets=clusters).select(
            "cluster", *x.neighbor
        ).select(
            "cluster", "neighbor_id", "_nv", x.neighbor_norm
        ).join(
            gone.withColumnRenamed("id", "neighbor_id"), "neighbor_id", "left_anti"
        )
        scored = (
            probed.join(cand_src, "cluster")
            .filter(x.not_self)
            .join(F.broadcast(q), "query_id")
            .select("query_id", "neighbor_id", x.neighbor_cos)
        )
        out = scored.withColumn("rnk", x.neighbor_rank).filter(F.col("rnk") <= k)
        if stats is not None:
            stats.update(
                probed_clusters=clusters,
                files_read=sum(len(snap_files.get(str(c), [])) for c in clusters),
                files_total=sum(len(fl) for fl in snap_files.values()),
            )
        return out

    # ----------------------------------------------------------- maintenance

    def retrain(self, iters: int = 2, n_centroids: int | None = None) -> None:
        """Offline rebuild: Lloyd-refine centroids over the stored corpus,
        re-assign every vector, and REWRITE the vectors table (full CoW —
        the periodic index rebuild, not the per-batch path).

        ``n_centroids``: GROW (or change) the index fanout. IVF wants
        ~sqrt(N) centroids, so a fixed creation-time fanout makes each
        probed cluster's absolute bytes grow linearly with the corpus
        even though the fraction stays n_probe/n_centroids. retrain is
        already a full CoW rewrite, so it is the natural (and free)
        place to re-bucket: the vectors table is recreated at the new
        ``num_buckets`` inside the same epoch-stamped commit, and a crash
        between the centroid commit and the vectors rewrite is healed by
        recover()'s reassign, which re-buckets as part of its
        roll-forward.

        The vectors rewrite is :meth:`_reassign_all`, the same full
        rewrite recover() runs. It re-reads the corpus AFTER the centroid
        commit and pins the rewrite to the version of that read, so the
        rewrite holds every vector appended up to that read — each scored
        against the NEW centroids — and erases none appended after it.

        Concurrency contract: intended to run in a maintenance window.
        An ingest racing it loses exactly one side's optimistic guard —
        either the ingest's append lands after the corpus read and this
        retrain's vectors rewrite aborts (ConcurrentCommitError; the
        epoch mismatch it leaves behind is healed by recover(), which
        re-assigns against the NEW centroids, so the aborted retrain
        still converges) or the ingest's append aborts and retries
        against the retrained store. Never both publish, never a torn
        layout that stays torn."""
        from .similarity import ivf_refine_assign

        self.recover()
        nc = self.n_centroids if n_centroids is None else int(n_centroids)
        if nc < 1:
            raise ValueError(f"n_centroids must be >= 1, got {nc}")
        # takedowns are excluded from training AND physically dropped by
        # the rewrite (retrain doubles as a full purge)
        corpus = self._live_corpus()
        assign = ivf_refine_assign(
            corpus.select("id", "v"), n_centroids=nc,
            id_col="id", vec_col="v", iters=iters,
        )
        # recover the refined centroid vectors: exact decimal means per
        # (cluster, dim), identical to ivf_refine_assign's final round
        comp = (
            assign.join(corpus, "id")
            .select("cluster", F.posexplode("v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(
                F.sum(F.col("x").cast("decimal(25,15)")).alias("s"),
                F.count("*").alias("n"),
            )
            .select("cluster", "d", (F.col("s").cast("double") / F.col("n")).alias("m"))
        )
        cent = comp.groupBy("cluster").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
            ).alias("cv")
        ).select(F.col("cluster").cast("int").alias("centroid_id"), "cv")
        self._commit_centroids(cent, retrained_iters=iters, n_centroids=nc)
        self._reassign_all()

    def maintain(self, max_files_per_bucket: int = 8, keep_snapshots: int = 10) -> dict:
        """Background maintenance: heal any interrupted commit sequence
        FIRST (compacting across a dangling batch would otherwise leave
        the roll-forward to misread history), then compact per-batch
        append files + expire superseded snapshots (same valve as
        IncrementalDeduper.maintain). Pending takedowns are physically
        purged before compaction. The ids index and the takedown registry
        are compacted too: every add_batch known-id mask opens their
        files."""
        recovered = self.recover()
        out: dict[str, Any] = {"recovered": recovered}
        out.update(self.purge_deleted())
        for prefix, table in (("", self.vectors), ("ids_", self.ids),
                              ("deleted_", self.deleted)):
            out.update(compact_and_expire(
                table, prefix, max_files_per_bucket, keep_snapshots
            ))
        return out
