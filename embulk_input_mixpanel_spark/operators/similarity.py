"""Similarity search over embedding columns (array<float>).

Two tiers, as a training-data pipeline needs:

- :func:`brute_force_topk` — exact cosine top-k. The dot product is a
  JVM-side ``zip_with``/``aggregate`` fold (whole-stage codegen, no Python,
  no UDF). Queries are broadcast; the corpus is scanned once. Scale note:
  the candidate set is |Q| x |corpus| rows — fine for small query panels,
  the wrong tool for all-pairs; that's what the LSH tier is for.
- :func:`lsh_bucket_candidates` — random-hyperplane LSH: deterministic
  pseudo-random planes derived from a seed, sign-bit signature, band
  buckets; only intra-bucket pairs are scored. Candidate generation is a
  shuffle on (band, bucket-key) — linear in corpus size, independent of
  the pair count, which is the 100 TB-safe path.

Determinism: cosines are rounded to 4 decimals *before* ranking and ties
break by neighbor id, so results are stable across engines/partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _rebalance

__all__ = [
    "cosine",
    "brute_force_topk",
    "hyperplanes",
    "lsh_bucket_candidates",
    "neardup_pairs_lsh",
]


def _to_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (JVM fold, no UDF).

    The fold form is deliberate: an unrolled ``a1*b1 + a2*b2 + ...``
    chain was A/B'd at sf1.0 and lost (signature projection 2.5s vs 0.7s
    steady-state; embedding_neardup_lsh 30s vs 8.5s) — the deep Add tree
    evaluates through the recursive expression interpreter in the
    Generate/ObjectHashAggregate stages these dots live in, where the
    HOF fold's tight Scala loop wins.
    """
    return _dot(a, b) / F.sqrt(_dot(a, a) * _dot(b, b))


def _cosine_n(a: str | Column, b: str | Column, na: Column, nb: Column) -> Column:
    """Cosine with the self-dot-products precomputed ONCE per row.

    ``a``/``b`` are column names (materialized projections) or lambda
    variables;
    ``na``/``nb`` must be the exact ``_dot(x, x)`` of the same arrays,
    carried from the row's projection — the expression tree is then
    bit-identical to :func:`cosine` (same left-to-right fold, same
    multiply, same sqrt), but each vector's norm fold runs once per ROW
    instead of once per scored PAIR (guide §1.2 per-task work: a pair
    join scores |candidates| pairs, so inline norms cost 2 extra
    64-element folds per pair — ~2/3 of the cosine arithmetic)."""
    a, b = (F.col(x) if isinstance(x, str) else x for x in (a, b))
    return _dot(a, b) / F.sqrt(na * nb)


def _norm(v: str) -> Column:
    """Self dot product of a NAMED array column."""
    return _dot(F.col(v), F.col(v))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_r, rnk) — cos rounded to 4dp,
    rank dense over (cos_r desc, neighbor_id asc).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("_qv")
    ).select("query_id", "_qv", _norm("_qv").alias("_qn"))
    c = _rebalance(corpus).select(
        F.col(id_col).alias("neighbor_id"), _to_double(vec_col).alias("_cv")
    ).select("neighbor_id", "_cv", _norm("_cv").alias("_cn"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n("_qv", "_cv", F.col("_qn"), F.col("_cn")),
                4,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k))


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes, shared by the Spark operator and
    the DuckDB oracle-SQL generator (workloads.py) so both engines compute
    the identical signatures."""
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


DEFAULT_MAX_BUCKET = 1000  # LSH bucket-size belt, mirrored in the oracle SQL


def lsh_bucket_candidates(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs (id_a < id_b, shared band).

    Planes are deterministic (:func:`hyperplanes`) — a tiny literal array
    broadcast with the plan itself; the signature computation is a pure
    column fold per plane, all codegen. Band keys are posexploded into ONE
    bucketed self-equi-join on (band, key) — a single shuffle regardless
    of n_bands, linear in corpus size.

    Scale sizing: each band has 2^(n_planes/n_bands) buckets; keep
    bits-per-band ~ log2(corpus) so per-bucket occupancy stays O(1) and
    candidate volume stays linear. More planes cost only codegen folds.
    ``max_bucket_size`` (default 1000) is the belt on top: a degenerate
    embedding mass (thousands of identical vectors -> identical
    signatures) would expand quadratically inside one bucket row and can
    OOM its executor; capped buckets are dropped (exact-duplicate vectors
    are a dedup_exact problem, not an ANN one) and the oracle SQL applies
    the identical cap.
    """
    if n_planes % n_bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by n_bands ({n_bands}); "
            "trailing plane bits would otherwise be silently dropped"
        )
    planes = hyperplanes(dim, n_planes, seed)

    # materialize the double-cast vector in its OWN projection before the
    # per-plane folds reference it (CLAUDE.md HOF rule: subexpressions
    # referenced inside lambda bodies re-evaluate per reference — inlined,
    # the cast-transform would run once per PLANE instead of once per row)
    step = _rebalance(corpus).select(
        F.col(id_col).alias("id"), _to_double(vec_col).alias("_v")
    )
    v = F.col("_v")

    # plane dot as an UNROLLED sum built as ONE parsed SQL expression per
    # plane (bit-identical to the fold: same left-to-right order, 0.0
    # seed, double literals round-tripped via repr; see _dot/_dot_named)
    def _plane_dot(p: int) -> Column:
        return F.aggregate(
            F.zip_with(
                v, F.array(*[F.lit(w) for w in planes[p]]), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bits = [
        F.when(_plane_dot(p) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(n_planes)
    ]
    per_band = n_planes // n_bands
    keys = F.array(
        *[F.concat(*bits[b * per_band : (b + 1) * per_band]) for b in range(n_bands)]
    )
    e = step.select("id", F.posexplode(keys).alias("band", "bk"))
    # bucket-list shape instead of a self-equi-join: the (expensive) plane
    # signature scan runs ONCE, not once per join side (see
    # dedup.lsh_candidate_pairs for the rationale)
    bucket = (
        e.groupBy("band", "bk")
        .agg(F.collect_set("id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        bucket = bucket.filter(F.size("ids") <= max_bucket_size)
    return (
        bucket.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def neardup_pairs_lsh(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Embedding near-dup pairs, the scale path: hyperplane-LSH candidate
    generation -> exact cosine re-score of candidates only.

    Output semantics are the operator's own (pairs that share >= 1 band
    AND have cos >= threshold) — the approximate contract an ANN dedup at
    100 TB actually ships, reproduced verbatim by the DuckDB oracle from
    the same plane constants. Cost: one signature scan + one bucketed
    self-join + |candidates| rescores; never the n^2 cross join of
    :func:`neardup_pairs`.
    """
    cand = lsh_bucket_candidates(
        corpus, dim, n_planes, n_bands, seed, id_col, vec_col, max_bucket_size
    )
    va = corpus.select(
        F.col(id_col).alias("id_a"), _to_double(vec_col).alias("_va")
    ).select("id_a", "_va", _norm("_va").alias("_na"))
    vb = corpus.select(
        F.col(id_col).alias("id_b"), _to_double(vec_col).alias("_vb")
    ).select("id_b", "_vb", _norm("_vb").alias("_nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _cosine_n("_va", "_vb", F.col("_na"), F.col("_nb")),
                4,
            ).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= threshold)
    )


def neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    Brute-force all-pairs — correct baseline; refuses large corpora
    without ``force=True`` (use :func:`neardup_pairs_lsh` at scale — the
    pair join here is O(n^2)).
    """
    from .dedup import _guard_brute_force

    _guard_brute_force(corpus, "neardup_pairs", force)
    corpus = _rebalance(corpus)
    a = corpus.select(
        F.col(id_col).alias("id_a"), _to_double(vec_col).alias("_va")
    ).select("id_a", "_va", _norm("_va").alias("_na"))
    b = corpus.select(
        F.col(id_col).alias("id_b"), _to_double(vec_col).alias("_vb")
    ).select("id_b", "_vb", _norm("_vb").alias("_nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _cosine_n("_va", "_vb", F.col("_na"), F.col("_nb")),
                4,
            ).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= threshold)
    )


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF partitioning step: assign each vector to its nearest centroid.

    Centroids are deterministic: the vectors with the ``n_centroids``
    lowest ids (a seeded-IVF; production would run k-means — the
    *assignment and probing machinery* is what matters here). Assignment
    is a broadcast join + argmax, one scan of the corpus; this is the
    partition function that makes ANN queries touch only probed clusters
    instead of the whole corpus (the 100 TB path).
    """
    cent = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), _to_double(vec_col).alias("_cv")
    ).select("centroid_id", "_cv", _norm("_cv").alias("_cn"))
    v = _rebalance(corpus).select(
        F.col(id_col).alias("id"), _to_double(vec_col).alias("_v")
    ).select("id", "_v", _norm("_v").alias("_n"))
    scored = F.broadcast(cent).join(v).select(
        "id",
        "centroid_id",
        F.round(
            _cosine_n("_v", "_cv", F.col("_n"), F.col("_cn")), 4
        ).alias("cos_r"),
    )
    # argmax as max-of-struct: a DeclarativeAggregate with map-side partial
    # aggregation, so only one row per (id, map task) reaches the shuffle —
    # vs Window.row_number which would shuffle all n x n_centroids scored
    # rows to per-id reducers (same pattern as operators/merge.py).
    # Tiebreak: higher cos_r, then LOWER centroid_id (hence the negation).
    win = F.max(
        F.struct(
            F.col("cos_r").alias("c"),
            (-F.col("centroid_id")).alias("negid"),
            F.col("centroid_id").alias("cid"),
        )
    ).alias("_w")
    return (
        scored.groupBy("id")
        .agg(win)
        .select(
            "id",
            F.col("_w.cid").alias("cluster"),
            F.col("_w.c").alias("centroid_cos"),
        )
    )


def ivf_refine_assign(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """Lloyd (k-means) refinement of the IVF partitioning, ``iters`` rounds.

    seed assignment (:func:`ivf_assign`) -> per round: new centroid =
    element-wise mean of each cluster's vectors -> re-assign against the
    refined centroids. Fully distributed: means come from a posexplode +
    (cluster, dim) aggregation (codegen sums), centroid arrays are rebuilt
    with sort_array(collect_list(struct(dim, mean))), and the re-assignment
    is the same broadcast cross-score + max-of-struct argmax as the seed
    pass — no driver round-trip; for ``iters > 1`` the assignment is
    localCheckpoint'ed between rounds so lineage stays O(1) per round
    (cluster-scale jobs checkpoint to reliable storage instead).

    Determinism (oracle parity): per-dimension sums run in DECIMAL(25,15)
    (exact, order-independent), are cast to double, then divided by the
    exact integer count — bit-identical in any engine; cosines are rounded
    to 4dp before the id-tiebroken argmax.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    v = corpus.select(F.col(id_col).alias("id"), _to_double(vec_col).alias("_v"))
    vn = v.select("id", "_v", _norm("_v").alias("_n"))
    assign = ivf_assign(corpus, n_centroids, id_col, vec_col)
    win = F.max(
        F.struct(
            F.col("cos_r").alias("c"),
            (-F.col("centroid_id")).alias("negid"),
            F.col("centroid_id").alias("cid"),
        )
    ).alias("_w")
    for i in range(iters):
        if i > 0:
            assign = assign.localCheckpoint(eager=True)
        comp = (
            assign.join(v, "id")
            .select("cluster", F.posexplode("_v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(
                F.sum(F.col("x").cast("decimal(25,15)")).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "cluster", "d",
                (F.col("s").cast("double") / F.col("n")).alias("m"),
            )
        )
        cent = (
            comp.groupBy("cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
                ).alias("_cv")
            )
            .select(F.col("cluster").alias("centroid_id"), "_cv")
            .select("centroid_id", "_cv", _norm("_cv").alias("_cn"))
        )
        scored = F.broadcast(cent).join(vn).select(
            "id",
            "centroid_id",
            F.round(
                _cosine_n("_v", "_cv", F.col("_n"), F.col("_cn")), 4
            ).alias("cos_r"),
        )
        assign = (
            scored.groupBy("id")
            .agg(win)
            .select(
                "id", F.col("_w.cid").alias("cluster"), F.col("_w.c").alias("centroid_cos")
            )
        )
    return assign


def ivf_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-probed approximate top-k: score only vectors in the query's
    ``n_probe`` closest clusters (vs the whole corpus for brute force)."""
    assign = ivf_assign(corpus, n_centroids, id_col, vec_col)
    cent = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), _to_double(vec_col).alias("_cv")
    ).select("centroid_id", "_cv", _norm("_cv").alias("_cn"))
    q = corpus.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("_qv")
    ).select("query_id", "_qv", _norm("_qv").alias("_qn"))
    qc = F.broadcast(q).join(cent).select(
        "query_id",
        "centroid_id",
        F.round(
            _cosine_n("_qv", "_cv", F.col("_qn"), F.col("_cn")), 4
        ).alias("ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    probed = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", F.col("centroid_id").alias("cluster"))
    )
    # probed is <= |q| * n_probe tiny rows: broadcast it so the corpus
    # assignment is never shuffled (pre-r6 this planned a SortMergeJoin
    # that exchanged + sorted the full assign side)
    cand = F.broadcast(probed).join(assign, "cluster").select(
        "query_id", F.col("id").alias("neighbor_id")
    )
    cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"), _to_double(vec_col).alias("_nv")
    ).select("neighbor_id", "_nv", _norm("_nv").alias("_nn"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(v, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n("_qv", "_nv", F.col("_qn"), F.col("_nn")),
                4,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k))
