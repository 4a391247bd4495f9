"""Dedup / text / similarity operator semantics."""

import pytest
from pyspark.sql import functions as F

from embulk_input_mixpanel_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    dedup_keep_best,
    jaccard_pairs_lsh,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_pairs,
    simhash_pairs_banded,
)
from embulk_input_mixpanel_spark.operators.similarity import brute_force_topk, lsh_bucket_candidates
from embulk_input_mixpanel_spark.operators.text import lang_id, quality_features, rolling_fingerprint


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "el rapido zorro marron salta sobre el perro"),
    (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (5, "completely different words entirely here now"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact_groups(spark, docs):
    out = {r["keeper"]: r["n_docs"] for r in dedup_exact(docs).collect()}
    assert out[1] == 2  # docs 1+4 collapse, keeper = min id
    assert out[2] == 1 and out[3] == 1 and out[5] == 1


def test_shingles_count(spark, docs):
    sh = shingles(docs, n=3).filter(F.col("id") == 1).collect()
    assert len(sh) == 7  # 9 tokens -> 7 trigrams (all distinct here)


def test_jaccard_finds_neardup_pair(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert (1, 3) not in pairs


def test_minhash_lsh_recovers_duplicates(spark, docs):
    sig = minhash_signatures(docs, k=8, n=3)
    rows = {r["id"]: [r[f"mh_{i}"] for i in range(8)] for r in sig.collect()}
    assert rows[1] == rows[4]  # identical docs -> identical signatures
    cands = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig, k=8, n_bands=4).collect()}
    assert (1, 4) in cands


def test_simhash_identical_zero_hamming(spark, docs):
    sig = simhash(docs, bits=16)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(sig, max_hamming=3).collect()}
    assert pairs[(1, 4)] == 0
    s = {r["id"]: r["simhash"] for r in sig.collect()}
    assert s[1] != s[5]  # unrelated docs differ


@pytest.mark.parametrize("portable", [False, True])
def test_simhash_banded_equals_brute(spark, docs, portable):
    """Pigeonhole banding is EXACT: identical pair set + hamming as brute."""
    sig = simhash(docs, bits=24, portable=portable)
    brute = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(sig, max_hamming=2).collect()}
    banded = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in simhash_pairs_banded(sig, bits=24, max_hamming=2).collect()}
    assert banded == brute
    assert banded[(1, 4)] == 0  # exact dups at hamming 0 in every tier


@pytest.mark.parametrize("portable", [False, True])
def test_jaccard_lsh_equals_exact_on_neardups(spark, docs, portable):
    """LSH-candidates -> exact rescore reproduces the exact join's output
    (near-dup tier j >= 0.5 is fully recalled on this corpus in both hash
    tiers)."""
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()}
    via_lsh = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in jaccard_pairs_lsh(
                   docs, threshold=0.5, n=3, k=24, n_bands=8, portable=portable
               ).collect()}
    assert via_lsh == exact
    assert (1, 4) in via_lsh and via_lsh[(1, 4)] == 1.0


def test_hot_shingle_df_cap_bounds_pair_blowup(spark):
    """A ubiquitous shingle (present in every doc) must not produce a
    quadratic pair explosion once the df-cap drops it."""
    n = 400
    rows = [(i, f"common prefix here unique{i} tail{i} words{i} more{i}") for i in range(n)]
    rows += [(n, rows[0][1])]  # one true exact dup of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped_sh = shingles(df, n=3, max_shingle_docs=100)
    assert capped_sh.filter(F.col("shingle") == "common prefix here").count() == 0
    pairs = ngram_jaccard_pairs(df, threshold=0.8, n=3, max_shingle_docs=100).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, n)}
    via_lsh = jaccard_pairs_lsh(df, threshold=0.8, n=3, max_shingle_docs=100).collect()
    assert {(r["id_a"], r["id_b"]) for r in via_lsh} == {(0, n)}


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (needs >1 propagation round), a 2-node island, and
    a vertex-ordering trap (high id bridging low ids) all resolve to the
    min-reachable-id component."""
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40),   # chain 10-20-30-40
         (100, 7),                        # island with reversed magnitude
         (50, 60)],
        ["id_a", "id_b"],
    )
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10,
                   7: 7, 100: 7, 50: 50, 60: 50}


def test_dedup_keep_best_prefers_quality_then_low_id(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"),
         (3, "same text here extra words"),  # different fp
         (9, "a b"), (4, "a  b")],  # whitespace-normalized dup, equal quality
        ["doc_id", "text"],
    )
    from embulk_input_mixpanel_spark.operators.text import token_count

    out = {r["keeper"]: (r["n_docs"], r["keeper_quality"]) for r in
           dedup_keep_best(df, token_count("text").cast("long")).collect()}
    assert out[1] == (2, 3)   # equal quality -> lowest id keeps
    assert out[3] == (1, 5)
    assert out[4] == (2, 2)   # tie on quality 2 -> id 4 over 9


def test_minhash_portable_matches_duckdb_formula(spark, docs):
    """The portable tier's affine family reproduces in DuckDB verbatim —
    the same guarantee the sf0.01 gate relies on."""
    import duckdb

    from embulk_input_mixpanel_spark.operators.dedup import P31, derive_consts

    sig = minhash_signatures(docs, k=4, n=3, portable=True)
    got = {r["id"]: [r[f"mh_{i}"] for i in range(4)] for r in sig.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    base = "(('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647)"
    cols = ", ".join(
        f"min(({base} * {a} + {b}) % {P31}) AS mh_{i}"
        for i, (a, b) in enumerate(derive_consts(4))
    )
    want = {
        r[0]: list(r[1:])
        for r in con.execute(
            r"""
            WITH sh AS (
              SELECT doc_id AS id, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(tok) - 2, 0)),
                       i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS shingle
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
                    FROM documents))
            SELECT id, """ + cols + " FROM sh GROUP BY id"
        ).fetchall()
    }
    assert got == want


def test_lang_id_votes(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[3] == "es"


def test_quality_features_ranges(spark, docs):
    for r in quality_features(docs).collect():
        assert r["n_tokens"] > 0
        assert 0.0 <= r["stop_ratio"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[3]
    assert fps[1] != fps[2]  # same tokens, different order


def test_brute_force_topk_ranks(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # farthest from 0
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = brute_force_topk(df.filter(F.col("vec_id") == 0), df, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    assert order[0] == 1 and order[-1] == 3


def test_lsh_ann_buckets_similar_vectors(spark):
    vecs = [(i, [1.0 + 0.001 * i, 2.0, -1.0, 0.5]) for i in range(5)]
    vecs += [(100 + i, [-1.0, -2.0, 1.0 - 0.001 * i, -0.5]) for i in range(5)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             lsh_bucket_candidates(df, dim=4, n_planes=8, n_bands=4).collect()}
    assert (0, 1) in pairs            # near-identical vectors share buckets
    assert (0, 100) not in pairs      # opposite vectors don't


def test_ivf_kmeans_refinement_improves_quantization(spark):
    """One Lloyd iteration must not worsen the assignment objective
    (mean centroid cosine) and keeps one row per vector."""
    from pyspark.sql import functions as F

    from embulk_input_mixpanel_spark.operators.similarity import (
        ivf_assign,
        ivf_refine_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = ivf_assign(emb, 8)
    refined = ivf_refine_assign(emb, 8)
    assert refined.count() == emb.count()
    m0 = seed.agg(F.avg("centroid_cos")).first()[0]
    m1 = refined.agg(F.avg("centroid_cos")).first()[0]
    assert m1 >= m0
    # further iterations keep improving (or converge), never regress
    m2 = ivf_refine_assign(emb, 8, iters=2).agg(F.avg("centroid_cos")).first()[0]
    assert m2 >= m1 - 1e-9


# ---------------------------------------------------------------------------
# Round-3 hardening: bucket caps, convergence guards, brute-force guards
# ---------------------------------------------------------------------------


def test_lsh_band_divisibility_raises(spark, docs):
    """k % n_bands != 0 must fail loudly, not silently drop trailing
    signature components (which would quietly weaken recall)."""
    sig = minhash_signatures(docs, k=8, n=3)
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(sig, k=8, n_bands=3)
    with pytest.raises(ValueError, match="divisible"):
        lsh_bucket_candidates(
            spark.createDataFrame([(0, [0.0] * 4)], ["vec_id", "embedding"]),
            dim=4, n_planes=16, n_bands=5,
        )


def test_lsh_bucket_cap_bounds_megabucket(spark):
    """10k near-identical docs -> ONE signature bucket of 10k ids. Uncapped
    that is a ~50M-pair in-row expansion (executor OOM territory at real
    payload sizes); the cap drops the bucket, the overflow monitor reports
    it, and exact dedup still collapses the mass."""
    from embulk_input_mixpanel_spark.operators.dedup import lsh_overflow_buckets

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical text body repeated across the corpus many times").alias("text"),
    )
    sig = minhash_signatures(docs, k=8, n=3)
    capped = lsh_candidate_pairs(sig, k=8, n_bands=4, max_bucket_size=1000)
    assert capped.count() == 0  # the mega-bucket is dropped, not expanded
    overflow = lsh_overflow_buckets(sig, k=8, n_bands=4, max_bucket_size=1000).collect()
    assert len(overflow) == 4 and all(r["n_ids"] == n for r in overflow)
    # the duplicate mass is an exact-dedup problem and that path still works
    exact = dedup_exact(docs).collect()
    assert len(exact) == 1 and exact[0]["n_docs"] == n


def test_simhash_banded_bucket_cap(spark):
    """simhash_pairs_banded accepts the same belt; capped buckets are
    dropped (exactness trade documented on the operator)."""
    n = 500
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same words everywhere always").alias("text")
    )
    sig = simhash(docs, bits=24)
    assert simhash_pairs_banded(sig, bits=24, max_hamming=1, max_bucket_size=100).count() == 0
    # uncapped finds all n*(n-1)/2 zero-hamming pairs
    assert simhash_pairs_banded(sig, bits=24, max_hamming=1).count() == n * (n - 1) // 2


def test_brute_force_guards_refuse_large_corpora(spark):
    """O(n^2) baselines refuse > BRUTE_FORCE_MAX_ROWS rows unless forced."""
    import embulk_input_mixpanel_spark.operators.dedup as dd
    from embulk_input_mixpanel_spark.operators.similarity import neardup_pairs

    old = dd.BRUTE_FORCE_MAX_ROWS
    dd.BRUTE_FORCE_MAX_ROWS = 100
    try:
        sig = spark.range(101).select(F.col("id"), F.lit(5).alias("simhash"))
        with pytest.raises(ValueError, match="force=True"):
            simhash_pairs(sig, max_hamming=1)
        assert simhash_pairs(sig.limit(100), max_hamming=1).count() == 100 * 99 // 2
        emb = spark.range(101).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )
        with pytest.raises(ValueError, match="force=True"):
            neardup_pairs(emb, threshold=0.9)
        assert neardup_pairs(emb, threshold=0.9, force=True).count() == 101 * 100 // 2
    finally:
        dd.BRUTE_FORCE_MAX_ROWS = old


def test_connected_components_chain_converges_in_log_rounds(spark):
    """Adversarial chain graph: plain min-label propagation needs
    O(diameter) rounds; the pointer-jumping (path-halving) step must close
    a 256-edge chain well inside 25 rounds — and report its round count."""
    n = 256
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    stats = {}
    out = connected_components(edges, max_iters=25, stats=stats)
    rows = {r["id"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(n + 1)}
    assert stats["converged"] and stats["rounds"] <= 14, stats


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iters raises instead of returning wrong labels."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)


def test_approx_percentile_rank_error_bound(spark):
    """The approx tier's contract: for every group and every p, the rank
    of the returned value is within n/accuracy of the exact target rank
    (Greenwald-Khanna guarantee). Checked on the sf0.001 events table."""
    from embulk_input_mixpanel_spark.operators.stats import group_percentiles

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    accuracy = 1000
    approx = group_percentiles(
        ev, ["event_type"], "value", ps=(0.5, 0.9, 0.99), mode="approx",
        accuracy=accuracy,
    ).collect()
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for g in vals:
        vals[g].sort()
    for r in approx:
        xs = vals[r["event_type"]]
        n = len(xs)
        tol = n / accuracy + 1  # sketch bound + discretization slack
        for p, nm in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            v = r[nm]
            # rank range of v in the exact distribution
            import bisect
            lo = bisect.bisect_left(xs, v)
            hi = bisect.bisect_right(xs, v)
            target = p * (n - 1)
            assert lo - tol <= target <= hi + tol, (
                f"{r['event_type']} {nm}: rank window [{lo},{hi}] vs target "
                f"{target:.1f} exceeds n/accuracy={n/accuracy:.2f}"
            )


def test_group_percentiles_auto_tier_selection(spark):
    """auto mode picks exact under the row budget, approx above it, and
    the approx plan is a partial (map-side mergeable) aggregation."""
    from embulk_input_mixpanel_spark.operators.stats import group_percentiles

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = group_percentiles(ev, ["event_type"], "value", mode="auto",
                              exact_rows_max=10_000_000)
    assert "percentile(" in exact._jdf.queryExecution().executedPlan().toString()
    approx = group_percentiles(ev, ["event_type"], "value", mode="auto",
                               exact_rows_max=10)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "approx_percentile" in plan and "partial_approx_percentile" in plan
    with pytest.raises(ValueError, match="mode"):
        group_percentiles(ev, ["event_type"], "value", mode="bogus")


def test_neardup_gate_data_clears_marginal_recall_band(spark):
    """The neardup gate queries (neardup_docs_lsh, neardup_components,
    incremental_neardup_batches) pair a probabilistic-recall engine path
    (per-pair miss prob (1-j^3)^8 with k=24/8 bands: ~5e-4 at j=0.85,
    ~6e-5 at j=0.89) with an EXACT brute-force oracle. The engine's hash
    family is fixed, so for FIXED data recall is deterministic — but a
    future testdata regen could mint a marginal pair the fixed hashes
    happen to miss. Pin total recall DIRECTLY at both gate SFs so a bad
    regen fails HERE with an explanation, not in the driver gate with a
    mystery hash mismatch."""
    for sf in ("0.001", "0.01"):
        docs = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")
        exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                 ngram_jaccard_pairs(
                     docs, threshold=0.85, n=3, max_shingle_docs=None
                 ).collect()}
        lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               jaccard_pairs_lsh(
                   docs, threshold=0.85, n=3, k=24, n_bands=8,
                   max_shingle_docs=None, portable=False,
               ).collect()}
        missed = {p: j for p, j in exact.items() if p not in lsh}
        assert lsh == exact, (
            f"sf{sf}: the fixed k=24/8-band hashes miss marginal-recall "
            f"pairs {missed} — the exact oracle would flake the gate; raise "
            "k/bands or regenerate data"
        )


def test_deterministic_sample_is_stable_and_proportional(spark):
    """Same key set -> same sample on every run (no RNG), fraction lands
    near target, and the xxhash64 / portable md5 tiers each self-agree."""
    from embulk_input_mixpanel_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for portable in (False, True):
        a = {r["doc_id"] for r in
             deterministic_sample(docs, "doc_id", 0.3, portable=portable)
             .select("doc_id").collect()}
        b = {r["doc_id"] for r in
             deterministic_sample(docs, "doc_id", 0.3, portable=portable)
             .select("doc_id").collect()}
        assert a == b
        n = docs.count()
        assert 0.2 * n < len(a) < 0.4 * n, (portable, len(a), n)
    # different salt -> decorrelated sample
    from embulk_input_mixpanel_spark.operators.sampling import sample_hash
    import pyspark.sql.functions as F

    s2 = {r["doc_id"] for r in
          docs.filter(sample_hash("doc_id", salt="other") < int(0.3 * (2**31 - 1)))
          .select("doc_id").collect()}
    assert s2 != a


def test_split_assign_immutable_under_corpus_growth(spark):
    """A key's split NEVER changes as the corpus grows: assignment over a
    subset equals assignment over the full corpus for the shared keys —
    the eval-set non-contamination property under incremental ingest.
    Every row gets exactly one split; weights are respected coarsely."""
    from pyspark.sql import functions as F

    from embulk_input_mixpanel_spark.operators.sampling import split_assign

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r["doc_id"]: r["split"] for r in split_assign(docs, "doc_id", w).collect()}
    early = {r["doc_id"]: r["split"] for r in
             split_assign(docs.filter("doc_id < 100"), "doc_id", w).collect()}
    assert all(full[k] == v for k, v in early.items())
    assert set(full.values()) == {"train", "val", "test"}
    n = len(full)
    n_train = sum(1 for v in full.values() if v == "train")
    assert 0.7 * n < n_train < 0.9 * n
    import pytest

    with pytest.raises(ValueError):
        split_assign(docs, "doc_id", {"a": 0.5, "b": 0.4})
