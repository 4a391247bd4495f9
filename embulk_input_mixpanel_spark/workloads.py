"""Operator workloads: paired (Spark DataFrame, DuckDB oracle SQL) queries.

Each entry demonstrates one operator family from SURVEY.md §2 over the
driver-provided synthetic tables. The Spark side uses the engine's own
operator implementations where they exist (e.g. ``latest_wins``); the SQL
side is an independent ANSI formulation DuckDB executes over the same
parquet — the correctness gate.

Float policy: any value produced by a *reduction* (sum/avg over doubles)
is computed in DECIMAL (exact, order-independent) and only then cast to
double, so Spark's partitioned aggregation and DuckDB's serial one agree
bit-for-bit. Per-row double arithmetic (quality scores, cosine) is
identical IEEE754 on both engines; cosines are additionally rounded before
ranking with an id tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.merge import latest_wins

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Auxiliary registry: queries whose operator surface is SUBSUMED by a main
# entry (their SQL is literally a CTE of the retained query's oracle) but
# that remain independently oracle-checkable via tools/check_oracle.py.
# Kept out of queries() so the driver's 50-row gate attests every main
# entry with zero rotation (VERDICT r4 #1).
AUX_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
AUX_ORACLE_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _q_aux(name: str, sql: str | None):
    def deco(fn):
        AUX_QUERIES[name] = fn
        if sql is not None:
            AUX_ORACLE_SQL[name] = sql
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# CDC semantics over the `events` stream table
# ---------------------------------------------------------------------------

@_q(
    "window_filter",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id > 2000 AND event_id <= 7000
    """,
)
def window_filter(spark, sf_dir):
    """Incremental-bounds predicate (lo < seq <= hi), pushed to the scan.

    (reference: export_service.rb:212-217 — P6)
    """
    return (
        load(spark, sf_dir, "events")
        .filter((F.col("event_id") > 2000) & (F.col("event_id") <= 7000))
        .select("event_id", "user_id", "event_type", "value")
    )


@_q(
    "pushdown_compound_where",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'view') AND value > 10
      AND event_id > 1000 AND event_id <= 9000
    """,
)
def pushdown_compound_where(spark, sf_dir):
    """User `where` + event filter + incremental bounds composed into one
    predicate (reference: export_service.rb:178-186,212-217 — P4/P5/P6)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("click", "view")
        & (F.col("value") > 10)
        & (F.col("event_id") > 1000)
        & (F.col("event_id") <= 9000)
    ).select("event_id", "event_type", "value")


@_q(
    "watermark_skip_metrics",
    """
    SELECT event_type,
           count(*) AS n_total,
           CAST(sum(CASE WHEN event_id > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN event_id <= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
    FROM events GROUP BY event_type
    """,
)
def watermark_skip_metrics(spark, sf_dir):
    """Row-level HWM skip + skip counters
    (reference: export_service.rb:102-107,134-136 — P8/A3)."""
    hwm = 5000
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("event_id") > hwm, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("event_id") <= hwm, 1).otherwise(0)).alias("n_skipped"),
        )
    )


@_q(
    "hwm_running_max",
    """
    SELECT event_type, max(event_id) AS hwm_seq, max(ts) AS hwm_ts
    FROM events GROUP BY event_type
    """,
)
def hwm_running_max(spark, sf_dir):
    """Per-partition high-water mark = running max of sequence/time
    (reference: export_service.rb:109-112 — A1)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("event_id").alias("hwm_seq"), F.max("ts").alias("hwm_ts"))
    )


_LATEST_SQL = """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
"""


@_q("latest_wins_per_user", _LATEST_SQL)
def latest_wins_per_user(spark, sf_dir):
    """Latest-wins conflict resolution per key, via the engine's
    partial-aggregating max-of-struct operator (operators/merge.py — A2)."""
    ev = load(spark, sf_dir, "events")
    w = latest_wins(ev, ["user_id"], ["ts", "event_id"], tiebreak_col=None)
    return w.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@_q(
    "dedup_latest_per_key",
    """
    SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest_per_key(spark, sf_dir):
    """Dedup to one surviving row per composite key (W5 analog)."""
    ev = load(spark, sf_dir, "events")
    w = latest_wins(ev, ["user_id", "event_type"], ["ts", "event_id"], tiebreak_col=None)
    return w.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@_q(
    "cdc_replay_latest_state",
    f"""
    SELECT user_id, last_event_id, last_event_type
    FROM ({_LATEST_SQL})
    WHERE last_event_type <> 'error'
    """,
)
def cdc_replay_latest_state(spark, sf_dir):
    """Merge-and-delete semantics: latest version wins, keys whose winning
    event is a delete ('error' stands in for op=D) drop out (J3/A2)."""
    ev = load(spark, sf_dir, "events")
    w = latest_wins(ev, ["user_id"], ["ts", "event_id"], tiebreak_col=None)
    return w.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


@_q(
    "flatten_props",
    """
    SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS p_k,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_s,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS unix_ms,
           CAST(hour(ts) AS BIGINT) AS hour_utc,
           strftime(ts, '%Y-%m-%d') AS day_utc
    FROM events
    """,
)
def flatten_props(spark, sf_dir):
    """Nested-JSON field promotion to a typed column, fused with the
    epoch/timezone normalization family (P2/F8 + F1/F3/F6 analogs;
    session is pinned UTC so both engines agree on wall-clock
    decomposition — reference: export_service.rb:245-255)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("p_k"),
        F.unix_timestamp("ts").alias("unix_s"),
        (F.unix_timestamp("ts") * 1000).alias("unix_ms"),
        F.hour("ts").cast("long").alias("hour_utc"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_utc"),
    )


@_q(
    "residual_prop_keys",
    """
    SELECT event_id,
           len(json_keys(props)) AS n_keys,
           len(list_filter(json_keys(props), x -> x <> 'k')) AS n_unknown
    FROM events
    """,
)
def residual_prop_keys(spark, sf_dir):
    """Residual key subtraction: properties not covered by the schema
    (reference: export_service.rb:257-280 — J1/J2)."""
    pm = F.from_json("props", T.MapType(T.StringType(), T.StringType()))
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.size(F.map_keys(pm)).cast("long").alias("n_keys"),
        F.size(F.filter(F.map_keys(pm), lambda x: x != F.lit("k"))).cast("long").alias("n_unknown"),
    )


@_q(
    "slice_ledger",
    """
    SELECT date_trunc('day', ts) AS day, count(*) AS n_events,
           min(event_id) AS lo_seq, max(event_id) AS hi_seq
    FROM events GROUP BY 1
    """,
)
def slice_ledger(spark, sf_dir):
    """Tumbling day-window ledger (reference: range_generator.rb:47-61 — W1/L1)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("lo_seq"),
            F.max("event_id").alias("hi_seq"),
        )
    )


@_q(
    "backfill_overlap_dedup",
    """
    WITH u AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-15'
      UNION ALL
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    )
    SELECT event_type, count(*) AS n_rows, count(DISTINCT event_id) AS n_distinct
    FROM u GROUP BY event_type
    """,
)
def backfill_overlap_dedup(spark, sf_dir):
    """Backfill re-read of an overlapping window + idempotent dedup
    (reference: base_service.rb:109-115 — W3/W5)."""
    ev = load(spark, sf_dir, "events")
    w1 = ev.filter((F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-15"))
    w2 = ev.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20"))
    return (
        w1.unionByName(w2)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_rows"), F.count_distinct("event_id").alias("n_distinct"))
    )


_UPPER_SQL = """
    SELECT event_id, event_type FROM events
    WHERE event_id <= (SELECT max(event_id) - 1000 FROM events)
"""


@_q("upper_bound_lock", _UPPER_SQL)
def upper_bound_lock(spark, sf_dir):
    """In-flight upper bound: exclude the newest tail
    (reference: export_service.rb:239-243 — P7/W4)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_UPPER_SQL)


# ---------------------------------------------------------------------------
# Relational workloads (scan/agg/join breadth + bench headliners)
# ---------------------------------------------------------------------------

@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / count(*) AS DOUBLE) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped scan+aggregate; decimal-exact sums (see float policy)."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count("*")).cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "broadcast_dim_join",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def broadcast_dim_join(spark, sf_dir):
    """Fact-to-dimension join with an explicit broadcast hint — the dim is
    tiny, so no shuffle of the fact side at any scale."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@_q(
    "topk_revenue_orders",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def topk_revenue_orders(spark, sf_dir):
    """TPC-H Q3-shaped multi-join + top-k with deterministic tiebreak."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "top_users_by_value",
    """
    SELECT user_id,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id ASC
    LIMIT 100
    """,
)
def top_users_by_value_q(spark, sf_dir):
    """Global ORDER BY + LIMIT over a computed aggregate at non-trivial
    cardinality (top-100 of ~10k users): the partial-agg sum feeds a
    distributed TakeOrderedAndProject (per-partition top-100 heaps merged
    on the driver — never a global sort of all users; plan pinned in
    tests/test_plans.py). Decimal-exact sum, round(4)-then-rank with the
    user_id tiebreak so both engines cut the top-100 boundary
    identically."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4)
            .alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops over `documents`
# ---------------------------------------------------------------------------

_FP = "md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))"


@_q(
    "doc_fingerprint",
    f"SELECT doc_id, {_FP} AS fp FROM documents",
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprint (operators/dedup.py::fingerprint, portable tier:
    md5 over whitespace-normalized lowercase text — ONE hash per document,
    amortized over the scan; the xxhash64 tier is fingerprint(portable=False))."""
    from .operators.dedup import fingerprint

    return load(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text", portable=True).alias("fp")
    )


@_q(
    "dedup_exact_docs",
    f"""
    SELECT fp, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
    FROM (SELECT doc_id, {_FP} AS fp FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup: hash-groupBy on content fingerprint, keep min doc_id
    (operators/dedup.py::dedup_exact)."""
    from .operators.dedup import dedup_exact

    return (
        dedup_exact(load(spark, sf_dir, "documents"), portable=True)
        .withColumnRenamed("keeper", "keeper_doc_id")
    )


@_q(
    "token_stats",
    r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


_STOPWORDS = ("the", "a", "and", "of", "to")


@_q(
    "bpe_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
                AS BIGINT) AS n_bpe_tokens,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def bpe_token_stats(spark, sf_dir):
    """Token counting, BPE-ish tier: GPT2-style pre-tokenizer regex
    (RE2-compatible subset so both engines count identically) next to the
    whitespace count (operators/text.py::bpe_ish_token_count)."""
    from .operators.text import bpe_ish_token_count, token_count

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        token_count("text").cast("long").alias("n_ws_tokens"),
    )


@_q(
    "quality_score",
    f"""
    SELECT doc_id, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           round(CAST(n_alpha AS DOUBLE) / n_tokens, 6) AS avg_token_len
    FROM (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x IN {_STOPWORDS})) AS n_stop,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_alpha
      FROM documents
    )
    """,
)
def quality_score(spark, sf_dir):
    """Quality signals: stopword ratio + mean token length (per-row math).
    Token array materialized once per row (own projection) before the
    size/filter references — inlined, the regex split ran 4x per row."""
    step = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(F.regexp_replace("text", r"\s", "")).alias("_n_alpha"),
        F.split(F.trim(F.col("text")), r"\s+").alias("_toks"),
    )
    toks = F.col("_toks")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    return step.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        (n_stop.cast("double") / n_tokens).alias("stop_ratio"),
        F.round(F.col("_n_alpha").cast("double") / n_tokens, 6).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------

_TOPK_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, e.v), 4) AS cos_r
      FROM q JOIN e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_r, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_r DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
"""


@_q("cosine_topk", _TOPK_SQL)
def cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: JVM-side zip_with/aggregate
    dot product (no Python in the hot path), rounded-then-ranked with an
    id tiebreak for cross-engine determinism."""
    from .operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(queries, emb, k=5)


def flagship_entry(spark: SparkSession) -> DataFrame:
    """Driver smoke check: full CDC replay at tiny scale -> final state."""
    import tempfile

    from .runner import open_or_create, replay
    from .sources.genevents import change_events

    events = change_events(spark, 2000, n_repos=12, paths_per_repo=20, dup_rate=0.1, seed=5)
    d = tempfile.mkdtemp(prefix="flagship-")
    table = open_or_create(spark, d, num_buckets=8)
    replay(table, events, upper_bound=2000, slice_size=700)
    return table.read().select(
        "repo", "path", "commit", "commit_seq", "event_seq", "content_sha"
    )


# ---------------------------------------------------------------------------
# Near-dup detection + text analysis (operators/dedup.py, operators/text.py)
# ---------------------------------------------------------------------------

# portable base hash (see operators/dedup.py module doc): one md5, low 60
# bits as int, folded to 31 bits — DuckDB computes the identical value
_P31 = 2_147_483_647
_BASE31_SQL = "(('0x' || substr(md5({x}), 1, 15))::BIGINT % 2147483647)"
_DF_CAP = 1000  # max_shingle_docs df-cap, mirrored on both engines


def _shingles_sql(cap: int | None = _DF_CAP) -> str:
    raw = r"""
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tok) - 2, 0)),
               i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
            FROM documents)
"""
    if cap is None:
        return raw
    return f"""
      SELECT * FROM ({raw}) WHERE shingle NOT IN (
        SELECT shingle FROM ({raw}) GROUP BY shingle HAVING count(*) > {cap})
"""


def _mh_cols_sql(k: int) -> str:
    from .operators.dedup import derive_consts

    base = _BASE31_SQL.format(x="shingle")
    return ",\n           ".join(
        f"min(({base} * {a} + {b}) % {_P31}) AS mh_{i}"
        for i, (a, b) in enumerate(derive_consts(k))
    )


_JACCARD_PAIRS_SQL = """
    WITH sh AS ({shingles}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}
"""


@_q(
    "ngram_jaccard_pairs",
    _JACCARD_PAIRS_SQL.format(shingles=_shingles_sql(), threshold=0.5),
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (operators/dedup.py). The
    df-cap (max_shingle_docs=1000) bounds hot-shingle pair blowup; the
    oracle applies the identical cap."""
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.5, n=3, max_shingle_docs=_DF_CAP
    )


@_q(
    "neardup_docs_lsh",
    # the oracle is the BRUTE-FORCE exact formulation: the LSH path's output
    # is hash-independent once recall is total, which it is for this data's
    # near-dup clusters (j >= 0.8889 vs miss probability (1-j^3)^8 <= 6e-5
    # per pair; verified identical at sf0.001/0.01/0.1). DATA-DEPENDENT: a
    # testdata regen minting a pair the fixed hashes miss would fail this
    # gate even though the operator behaves as designed —
    # tests/test_operators.py::test_neardup_gate_data_clears_marginal_recall_band
    # pins total recall directly so the failure surfaces there, explained
    _JACCARD_PAIRS_SQL.format(shingles=_shingles_sql(), threshold=0.85),
)
def neardup_docs_lsh_q(spark, sf_dir):
    """THE scale-path document dedup query: xxhash64 MinHash (k=24) ->
    banded LSH (8 bands x 3) -> exact Jaccard re-score of candidates only.
    No crypto hash, no full shingle self-join (operators/dedup.py::
    jaccard_pairs_lsh)."""
    from .operators.dedup import jaccard_pairs_lsh

    return jaccard_pairs_lsh(
        load(spark, sf_dir, "documents"), threshold=0.85, n=3, k=24, n_bands=8,
        max_shingle_docs=_DF_CAP, portable=False,
    )


@_q(
    "neardup_components",
    f"""
    WITH RECURSIVE sh AS ({_shingles_sql()}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.85
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT id, min(label) AS component FROM reach GROUP BY id
    """,
)
def neardup_components_q(spark, sf_dir):
    """Near-dup CLUSTERS: connected components (min-label propagation)
    over the LSH near-dup pair graph — the collapse-to-representative
    step of cluster dedup. Spark runs iterative label propagation
    (operators/dedup.py::connected_components); the oracle replays it as
    a recursive-CTE transitive closure over the same edges."""
    from .operators.dedup import connected_components, jaccard_pairs_lsh

    pairs = jaccard_pairs_lsh(
        load(spark, sf_dir, "documents"), threshold=0.85, n=3, k=24, n_bands=8,
        max_shingle_docs=_DF_CAP, portable=False,
    )
    return connected_components(pairs)


@_q(
    "incremental_neardup_batches",
    # one-shot brute-force oracle over the UNION corpus: the incremental
    # path must produce exactly the same pair set across its batch
    # boundary. Shingles are uncapped here — document frequency is a
    # global statistic an incremental ingest cannot know per batch (the
    # LSH bucket cap is the hot-key belt instead); at the gate SFs the
    # df-cap never binds anyway (500 docs < cap 1000). Recall note: same
    # data-dependence as neardup_docs_lsh — total recall of this corpus'
    # exact pair set by the fixed k=24/8-band hashes is pinned directly by
    # tests/test_operators.py::test_neardup_gate_data_clears_marginal_recall_band.
    _JACCARD_PAIRS_SQL.format(shingles=_shingles_sql(None), threshold=0.85),
)
def incremental_neardup_batches_q(spark, sf_dir):
    """INCREMENTAL cross-batch dedup (operators/incremental_dedup.py):
    the corpus arrives in two batches; each batch shingles/hashes only its
    own docs, joins its band keys against the persisted LSH index (lake
    table, bucket-pruned), rescores candidates exactly, and appends its
    signatures + index rows O(batch). The union of per-batch outputs must
    equal the one-shot recompute — the oracle is the same brute-force
    exact-Jaccard formulation as neardup_docs_lsh."""
    import atexit
    import shutil
    import tempfile

    from .operators.incremental_dedup import IncrementalDeduper

    docs = load(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="incdedup-q-")
    atexit.register(shutil.rmtree, d, True)
    dd = IncrementalDeduper(spark, d, k=24, n_bands=8, threshold=0.85)
    p1 = dd.add_batch(docs.filter("doc_id % 2 = 0"))
    p2 = dd.add_batch(docs.filter("doc_id % 2 = 1"))
    return p1.unionByName(p2)


@_q(
    "dedup_keep_best",
    f"""
    WITH scored AS (
      SELECT doc_id, {_FP} AS fp,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS q
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY fp
                                   ORDER BY q DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT r.fp, c.n_docs, r.doc_id AS keeper, r.q AS keeper_quality
    FROM ranked r JOIN (SELECT fp, count(*) AS n_docs FROM scored GROUP BY fp) c
      ON c.fp = r.fp
    WHERE r.rn = 1
    """,
)
def dedup_keep_best_q(spark, sf_dir):
    """Exact dedup with a quality-aware keeper (longest doc by token
    count, ties to lowest id) via max-of-struct partial aggregation
    (operators/dedup.py::dedup_keep_best)."""
    from .operators.dedup import dedup_keep_best
    from .operators.text import token_count

    return dedup_keep_best(
        load(spark, sf_dir, "documents"),
        quality_col=token_count("text").cast("long"),
        portable=True,
    )


_MINHASH_K = 8


@_q_aux(
    "minhash_signatures",
    f"""
    WITH sh AS ({_shingles_sql()})
    SELECT id, {_mh_cols_sql(_MINHASH_K)}
    FROM sh GROUP BY id
    """,
)
def minhash_signatures_q(spark, sf_dir):
    """MinHash signatures, k=8, one groupBy pass + ONE md5 per shingle
    (portable tier; the engine tier is xxhash64-based, zero crypto —
    operators/dedup.py::minhash_signatures). AUX: this exact computation
    is the input CTE of minhash_lsh_candidates' gate entry."""
    from .operators.dedup import minhash_signatures

    return minhash_signatures(
        load(spark, sf_dir, "documents"), k=_MINHASH_K, n=3, portable=True,
        max_shingle_docs=_DF_CAP,
    )


def _lsh_bands_sql(k: int, n_bands: int, cap: int | None = 1000) -> str:
    """Per-band candidate joins; ``cap`` mirrors the engine's
    max_bucket_size belt (buckets with > cap members are excluded on both
    engines, so the gate checks the capped contract)."""
    per = k // n_bands
    bands = []
    for b in range(n_bands):
        cols = ", ".join(f"CAST(mh_{b * per + j} AS VARCHAR)" for j in range(per))
        capped = (
            f" WHERE x.bk NOT IN (SELECT concat_ws('|', {cols}) AS bk FROM sig "
            f"GROUP BY bk HAVING count(*) > {cap})"
            if cap is not None
            else ""
        )
        bands.append(
            f"SELECT x.id AS id_a, y.id AS id_b FROM "
            f"(SELECT id, concat_ws('|', {cols}) AS bk FROM sig) x JOIN "
            f"(SELECT id, concat_ws('|', {cols}) AS bk FROM sig) y "
            f"ON x.bk = y.bk AND x.id < y.id{capped}"
        )
    return "\n      UNION ALL\n      ".join(bands)


@_q(
    "minhash_lsh_candidates",
    f"""
    WITH sh AS ({_shingles_sql()}),
    sig AS (SELECT id, {_mh_cols_sql(_MINHASH_K)} FROM sh GROUP BY id),
    pairs AS (
      {_lsh_bands_sql(_MINHASH_K, 4)}
    )
    SELECT DISTINCT id_a, id_b FROM pairs
    """,
)
def minhash_lsh_candidates_q(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs: posexplode band keys -> ONE
    bucketed self-equi-join (operators/dedup.py::lsh_candidate_pairs)."""
    from .operators.dedup import lsh_candidate_pairs, minhash_signatures

    sig = minhash_signatures(
        load(spark, sf_dir, "documents"), k=_MINHASH_K, n=3, portable=True,
        max_shingle_docs=_DF_CAP,
    )
    return lsh_candidate_pairs(sig, k=_MINHASH_K, n_bands=4)


_SIMHASH_BITS = 24


def _simhash_sql(bits: int) -> str:
    base = _BASE31_SQL.format(x="tok")
    votes = ",\n             ".join(
        f"CAST(sum(CASE WHEN (({base} >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{j}"
        for j in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
      SELECT id, CAST({sig} AS BIGINT) AS simhash FROM (
        SELECT id, {votes}
        FROM (SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents)
        GROUP BY id)
"""


@_q(
    "simhash_neardups",
    f"""
    WITH sig AS ({_simhash_sql(_SIMHASH_BITS)})
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
)
def simhash_neardups_q(spark, sf_dir):
    """SimHash near-dup pairs via EXACT pigeonhole banding — identical
    output to the brute-force oracle, at bucketed-join cost
    (operators/dedup.py::simhash_pairs_banded)."""
    from .operators.dedup import simhash, simhash_pairs_banded

    sig = simhash(load(spark, sf_dir, "documents"), bits=_SIMHASH_BITS, portable=True)
    pairs = simhash_pairs_banded(sig, bits=_SIMHASH_BITS, max_hamming=1)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


_LANGS_SQL_SCORE = {
    "en": "('the','a','and','of','to','is')",
    "es": "('el','la','de','y','que','los')",
    "fr": "('le','la','et','les','des','un')",
    "de": "('der','die','und','das','ein','zu')",
}
_LANG_SCORE_COLS = ",\n           ".join(
    f"len(list_filter(tok, x -> x IN {words})) AS s_{lang}"
    for lang, words in _LANGS_SQL_SCORE.items()
)


@_q(
    "lang_id_heuristic",
    f"""
    SELECT doc_id, s_en, s_es, s_fr, s_de,
           CASE
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
             WHEN s_fr >= s_de THEN 'fr'
             ELSE 'de'
           END AS pred_lang
    FROM (
      SELECT doc_id, {_LANG_SCORE_COLS}
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
            FROM documents)
    )
    """,
)
def lang_id_q(spark, sf_dir):
    """Marker-vote language ID (operators/text.py)."""
    from .operators.text import lang_id

    return lang_id(load(spark, sf_dir, "documents"))


@_q(
    "quality_features",
    r"""
    SELECT doc_id,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           round(CAST(n_alpha AS DOUBLE) / n_tokens, 6) AS avg_token_len,
           round(CAST(n_punct AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio
    FROM (
      SELECT doc_id, text,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x IN ('the','a','and','of','to'))) AS n_stop,
             length(regexp_replace(text, '\s', '', 'g')) AS n_alpha,
             length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
      FROM documents
    )
    """,
)
def quality_features_q(spark, sf_dir):
    """Full quality-signal set (operators/text.py)."""
    from .operators.text import quality_features

    return quality_features(load(spark, sf_dir, "documents"))


@_q(
    "rolling_fingerprint",
    r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                              x -> (length(x) * 7 + coalesce(ascii(substr(x, 1, 1)), 0))::BIGINT)),
             (a, b) -> (a * 31 + b) % 2147483647
           ) AS fp
    FROM documents
    """,
)
def rolling_fingerprint_q(spark, sf_dir):
    """Order-sensitive rolling-hash fingerprint (operators/text.py)."""
    from .operators.text import rolling_fingerprint

    return load(spark, sf_dir, "documents").select(
        "doc_id", rolling_fingerprint("text").alias("fp")
    )


# ---------------------------------------------------------------------------
# Query pushdown (JQL analog) + epoch/time normalization
# ---------------------------------------------------------------------------

@_q(
    "sql_pushdown_param",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE value > 50 AND event_id <= 8000
    GROUP BY event_type
    """,
)
def sql_pushdown_param(spark, sf_dir):
    """User script + bound params (JQL analog, S5/UDF surface;
    sources/sqlquery.py — injection-safe named args)."""
    from .sources.sqlquery import run_pushdown_query

    return run_pushdown_query(
        spark,
        """
        SELECT event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events
        WHERE value > :min_value AND event_id <= :hi
        GROUP BY event_type
        """,
        params={"min_value": 50, "hi": 8000},
        tables={"events": load(spark, sf_dir, "events")},
    )


@_q_aux(
    "epoch_normalize",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_s,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS unix_ms,
           CAST(hour(ts) AS BIGINT) AS hour_utc,
           strftime(ts, '%Y-%m-%d') AS day_utc
    FROM events
    """,
)
def epoch_normalize(spark, sf_dir):
    """Epoch/timezone normalization family (F1/F3/F6 analogs; session is
    pinned UTC so both engines agree on wall-clock decomposition). AUX:
    these columns are fused into flatten_props' gate entry."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("unix_s"),
        (F.unix_timestamp("ts") * 1000).alias("unix_ms"),
        F.hour("ts").cast("long").alias("hour_utc"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_utc"),
    )


# ---------------------------------------------------------------------------
# Similarity search, tier 2: near-dup pairs + IVF-partitioned ANN
# ---------------------------------------------------------------------------

@_q(
    "embedding_neardup_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_r
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    """,
)
def embedding_neardup_pairs_q(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact all-pairs ground truth — the
    correctness baseline for the LSH-bucketed scale path below
    (operators/similarity.py::neardup_pairs)."""
    from .operators.similarity import neardup_pairs

    return neardup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4)


# 8 bits per band = 256 buckets/band: the bucket count (2^bits_per_band)
# must track corpus size (~log2(n) bits) to keep per-bucket occupancy — and
# therefore candidate volume — bounded; planes are free, so widen bands as
# the corpus grows rather than accepting hot buckets.
_EMB_DIM, _N_PLANES, _N_BANDS, _LSH_SEED = 64, 32, 4, 42


def _hyperplane_sig_sql() -> str:
    """DuckDB band signatures from the SAME plane constants as the Spark
    operator (operators/similarity.py::hyperplanes) — the fold starts at
    0.0 and runs left-to-right in both engines, so the dot products (and
    therefore every sign bit) are IEEE754 bit-identical."""
    from .operators.similarity import hyperplanes

    planes = hyperplanes(_EMB_DIM, _N_PLANES, _LSH_SEED)
    per = _N_PLANES // _N_BANDS

    def bit(p: int) -> str:
        arr = "[" + ", ".join(repr(w) for w in planes[p]) + "]"
        return (
            "(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, {_EMB_DIM + 1}), i -> v[i] * ({arr})[i])), "
            "(a, b) -> a + b) >= 0 THEN '1' ELSE '0' END)"
        )

    bands = ",\n             ".join(
        " || ".join(bit(b * per + j) for j in range(per)) + f" AS band_{b}"
        for b in range(_N_BANDS)
    )
    # the NOT IN subqueries mirror the engine's max_bucket_size=1000 belt
    joins = "\n      UNION ALL\n      ".join(
        f"SELECT x.id AS id_a, y.id AS id_b FROM sig x JOIN sig y "
        f"ON x.band_{b} = y.band_{b} AND x.id < y.id "
        f"WHERE x.band_{b} NOT IN (SELECT band_{b} FROM sig "
        f"GROUP BY band_{b} HAVING count(*) > 1000)"
        for b in range(_N_BANDS)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (SELECT vec_id AS id,
             {bands}
            FROM e),
    pairs AS (
      {joins}
    ),
    cand AS (SELECT DISTINCT id_a, id_b FROM pairs)
"""


@_q(
    "hyperplane_lsh_candidates",
    _hyperplane_sig_sql() + "SELECT id_a, id_b FROM cand",
)
def hyperplane_lsh_candidates_q(spark, sf_dir):
    """Random-hyperplane LSH candidate pairs over embeddings: linear
    signature scan + ONE bucketed self-equi-join; the candidate generator
    of the ANN dedup scale path (operators/similarity.py::
    lsh_bucket_candidates)."""
    from .operators.similarity import lsh_bucket_candidates

    return lsh_bucket_candidates(
        load(spark, sf_dir, "embeddings"), dim=_EMB_DIM,
        n_planes=_N_PLANES, n_bands=_N_BANDS, seed=_LSH_SEED,
    )


@_q(
    "embedding_neardup_lsh",
    _hyperplane_sig_sql()
    + """
    SELECT c.id_a, c.id_b, round(list_cosine_similarity(a.v, b.v), 4) AS cos_r
    FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    """,
)
def embedding_neardup_lsh_q(spark, sf_dir):
    """Embedding near-dup pairs, the executed scale path: hyperplane-LSH
    candidates -> exact cosine re-score of candidates only. The oracle
    replays the identical approximate contract (same planes, same bands,
    same re-score) in DuckDB (operators/similarity.py::neardup_pairs_lsh)."""
    from .operators.similarity import neardup_pairs_lsh

    return neardup_pairs_lsh(
        load(spark, sf_dir, "embeddings"), threshold=0.4, dim=_EMB_DIM,
        n_planes=_N_PLANES, n_bands=_N_BANDS, seed=_LSH_SEED,
    )


_IVF_ASSIGN_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id AS id, cent.centroid_id,
             round(list_cosine_similarity(e.v, cent.cv), 4) AS cos_r
      FROM e CROSS JOIN cent
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY id
                                   ORDER BY cos_r DESC, centroid_id ASC) AS rn
      FROM scored
    )
    SELECT id, centroid_id AS cluster, cos_r AS centroid_cos
    FROM ranked WHERE rn = 1
"""


@_q(
    "ivf_kmeans_refined",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign0 AS ({_IVF_ASSIGN_SQL}),
    comp AS (
      SELECT a.cluster, generate_subscripts(e.v, 1) AS d, unnest(e.v) AS x
      FROM assign0 a JOIN e ON e.vec_id = a.id
    ),
    means AS (
      SELECT cluster, d,
             CAST(sum(CAST(x AS DECIMAL(25,15))) AS DOUBLE) / count(*) AS m
      FROM comp GROUP BY cluster, d
    ),
    cent1 AS (
      SELECT cluster AS centroid_id, list(m ORDER BY d) AS cv
      FROM means GROUP BY cluster
    ),
    scored AS (
      SELECT e.vec_id AS id, c.centroid_id,
             round(list_cosine_similarity(e.v, c.cv), 4) AS cos_r
      FROM e CROSS JOIN cent1 c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY id
                                   ORDER BY cos_r DESC, centroid_id ASC) AS rn
      FROM scored
    )
    SELECT id, centroid_id AS cluster, cos_r AS centroid_cos
    FROM ranked WHERE rn = 1
    """,
)
def ivf_kmeans_refined_q(spark, sf_dir):
    """One Lloyd iteration of the IVF partitioner: decimal-exact
    element-wise centroid means (order-independent -> engine-identical),
    then re-assignment via broadcast cross-score + partial-agg argmax
    (operators/similarity.py::ivf_refine_assign)."""
    from .operators.similarity import ivf_refine_assign

    return ivf_refine_assign(load(spark, sf_dir, "embeddings"), n_centroids=8)


@_q_aux("ivf_assign", _IVF_ASSIGN_SQL)
def ivf_assign_q(spark, sf_dir):
    """IVF partition step: nearest-centroid assignment (the ANN scale
    path's shuffle key; operators/similarity.py::ivf_assign). AUX: this
    exact SQL is a CTE of both ivf_kmeans_refined and ivf_topk's gate
    entries."""
    from .operators.similarity import ivf_assign

    return ivf_assign(load(spark, sf_dir, "embeddings"), n_centroids=8)


_IVF_TOPK_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    assign AS ({_IVF_ASSIGN_SQL}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    qc AS (
      SELECT query_id, centroid_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC,
                        centroid_id ASC) AS rn
      FROM q CROSS JOIN cent
    ),
    probed AS (SELECT query_id, centroid_id AS cluster FROM qc WHERE rn <= 2),
    cand AS (
      SELECT p.query_id, a.id AS neighbor_id
      FROM probed p JOIN assign a ON a.cluster = p.cluster
      WHERE a.id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.qv, e.v), 4) AS cos_r
      FROM cand c JOIN q ON q.query_id = c.query_id
      JOIN e ON e.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_r, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_r DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """


@_q("ivf_topk", _IVF_TOPK_SQL)
def ivf_topk_q(spark, sf_dir):
    """Cluster-probed ANN top-k (operators/similarity.py::ivf_topk)."""
    from .operators.similarity import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2], k=3, n_centroids=8, n_probe=2
    )


@_q(
    "incremental_ivf_topk",
    # identical SQL to ivf_topk: the incremental index freezes centroids
    # from its FIRST batch's lowest-id vectors, and the batch split below
    # puts vec_ids 0..7 in batch 1, so frozen centroids == the one-shot
    # seeding and the probed top-k must be bit-identical to it
    _IVF_TOPK_SQL,
)
def incremental_ivf_topk_q(spark, sf_dir):
    """INCREMENTAL ANN (operators/incremental_ann.py): embeddings arrive
    in two batches; each assigns only its own vectors against the frozen
    centroids (broadcast + partial-agg argmax) and appends them to a
    cluster-bucketed lake table. The probe then opens ONLY the probed
    clusters' lake buckets — file-level pruning at any corpus size — and
    must match the one-shot ivf_topk oracle exactly."""
    import atexit
    import shutil
    import tempfile

    from .operators.incremental_ann import IncrementalANN

    emb = load(spark, sf_dir, "embeddings")
    half = emb.agg(F.max("vec_id")).first()[0] // 2
    d = tempfile.mkdtemp(prefix="incann-q-")
    atexit.register(shutil.rmtree, d, True)
    ann = IncrementalANN(spark, d, n_centroids=8)
    ann.add_batch(emb.filter(F.col("vec_id") <= half))
    ann.add_batch(emb.filter(F.col("vec_id") > half))
    return ann.topk(query_ids=[0, 1, 2], k=3, n_probe=2)


@_q(
    "rollup_daily_by_type",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
    """,
)
def rollup_daily_by_type_q(spark, sf_dir):
    """Hierarchical ROLLUP aggregation (day -> event_type -> grand total)
    — one pass, Spark expands grouping sets without re-scanning."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.rollup(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


@_q(
    "user_running_value",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq_in_user
    FROM events
    """,
)
def user_running_value_q(spark, sf_dir):
    """Per-user cumulative sum + sequence number (decimal-exact running
    sum so prefix order, not float association, defines the value). Window
    ops shuffle the full partition to one reducer — correct tool for
    per-ENTITY prefix semantics, deliberately NOT used for latest-wins."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_value"),
        F.row_number().over(w).cast("long").alias("seq_in_user"),
    )


@_q(
    "value_percentiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles_q(spark, sf_dir):
    """Exact linear-interpolation percentiles per group (Spark percentile
    == DuckDB quantile_cont bit-for-bit on this data). The SAME operator
    (operators/stats.py::group_percentiles) carries the at-scale tier: a
    mergeable approx_percentile sketch with a TESTED rank-error bound
    (<= n/accuracy; tests/test_operators.py::test_approx_percentile_*),
    selected by mode='approx' or automatically by input size."""
    from .operators.stats import group_percentiles

    ev = load(spark, sf_dir, "events")
    return group_percentiles(
        ev, ["event_type"], "value", ps=(0.5, 0.9, 0.99), mode="exact"
    )


@_q(
    "session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w >= INTERVAL 6 HOUR OR
                       lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      -- ORDER BY (ts, event_id), matching the marked CTE's window: ordering
      -- by the partition-constant user_id would leave exact-ts ties
      -- nondeterministic and could split them across sessions
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
           count(*) AS n_events
    FROM islands GROUP BY user_id, sess_id
    """,
)
def session_windows_q(spark, sf_dir):
    """Session windows (gap 6h) per user — Spark's native session_window
    merge-on-gap aggregation; the oracle reproduces the same sessions via
    gaps-and-islands SQL. The streaming analog (W8-beyond: the reference
    has no sessionization) shares the operator via withWatermark +
    session_window."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "6 hours").alias("sw"))
        .agg(F.max("ts").alias("last_ts"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "last_ts",
            "n_events",
        )
    )


@_q(
    "events_semi_building",
    """
    SELECT event_type, count(*) AS n
    FROM events e
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING')
    GROUP BY event_type
    """,
)
def events_semi_building_q(spark, sf_dir):
    """LEFT SEMI join (EXISTS pushdown): events from a dimension subset —
    the membership-filter shape CDC residual planning uses. Broadcast the
    filtered dim: no fact shuffle."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left_semi")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "events_anti_building",
    """
    SELECT event_type, count(*) AS n
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING')
    GROUP BY event_type
    """,
)
def events_anti_building_q(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS): the complement membership filter
    (orphan detection / residual-key subtraction at row scale)."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left_anti")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Relational breadth: selective-filter agg + multi-dimension join chain
# ---------------------------------------------------------------------------

@_q(
    "q6_selective_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_selective_revenue(spark, sf_dir):
    """TPC-H Q6-shaped: highly selective conjunctive filter + global agg —
    the pushdown/pruning showcase (every predicate reaches the scan)."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_rows"))
    )


@_q(
    "q5_region_revenue",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1994-01-01'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5-shaped: fact -> 4 broadcast dimensions join chain, grouped
    revenue. All dims broadcast (no fact shuffle for the joins)."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1994-01-01")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    # orders is fact-sized: it joins by shuffle (AQE picks the strategy);
    # only the true dimensions carry broadcast hints
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---- deterministic sampling / dataset splits (training curation) --------
# Thresholds are INTEGER literals computed once here and used by BOTH
# engines (the Spark operator recomputes the identical ints from the same
# floats) — no float comparison ever crosses the engine boundary. The
# portable md5-affine row hash replays bit-for-bit in DuckDB
# (operators/dedup.py:89-95; oracle-parity hash contract).

_P31 = 2_147_483_647
_SAMPLE_FRACS = {"en": 0.8, "zh": 0.25}
_SAMPLE_DEFAULT = 0.5
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _portable_hash_sql(salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        f" % {_P31}"
    )


@_q(
    "stratified_sample_docs",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_portable_hash_sql('s1')} <
      CASE lang
        WHEN 'en' THEN {int(0.8 * _P31)}
        WHEN 'zh' THEN {int(0.25 * _P31)}
        ELSE {int(0.5 * _P31)}
      END
    """,
)
def stratified_sample_docs_q(spark, sf_dir):
    """Per-language deterministic downsampling in ONE codegen'd filter
    (operators/sampling.py::stratified_sample): keep 80% of en, 25% of
    zh, 50% otherwise — decided per doc_id hash, so re-runs, retries and
    backfills keep exactly the same docs (no RNG state at 100 TB)."""
    from .operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", _SAMPLE_FRACS, _SAMPLE_DEFAULT,
        salt="s1", portable=True,
    ).select("doc_id", "lang")


@_q(
    "dataset_split_counts",
    # split ranges: sorted names (test, train, val), cumulative [lo, hi)
    f"""
    SELECT split, lang, count(*) AS n FROM (
      SELECT lang,
             CASE
               WHEN {_portable_hash_sql('split')} < {int(0.1 * _P31)} THEN 'test'
               WHEN {_portable_hash_sql('split')} < {int((0.1 + 0.8) * _P31)} THEN 'train'
               ELSE 'val'
             END AS split
      FROM documents
    ) GROUP BY split, lang
    """,
)
def dataset_split_counts_q(spark, sf_dir):
    """Immutable train/val/test assignment by hash range
    (operators/sampling.py::split_assign): a doc ingested next year lands
    in the same split it would today — eval sets stay uncontaminated
    under incremental ingest. Aggregated per (split, lang)."""
    from .operators.sampling import split_assign

    docs = load(spark, sf_dir, "documents")
    return (
        split_assign(docs, "doc_id", _SPLIT_WEIGHTS, salt="split", portable=True)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "curation_pipeline",
    # end-to-end training-data curation as ONE oracle-checked composite:
    # quality gate -> deterministic stratified sample -> near-dup removal
    # (keep lowest id) -> per-language corpus stats. The oracle replays
    # the whole chain with the exact-Jaccard brute-force dedup; the
    # engine's LSH recall over this corpus' pairs is pinned total by
    # tests/test_operators.py::test_neardup_gate_data_clears_marginal_recall_band
    # (subset pairs collide iff they collided in the full corpus — band
    # keys are per-doc).
    f"""
    WITH base AS (
      SELECT doc_id, lang, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    kept AS (
      SELECT * FROM base
      WHERE n_tokens >= 25
        AND ('0x' || substr(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % {_P31} <
            CASE lang WHEN 'en' THEN {int(0.8 * _P31)} ELSE {int(0.5 * _P31)} END
    ),
    sh_raw AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tok) - 2, 0)),
               i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
            FROM kept)
    ),
    -- df-cap mirror: drop shingles present in > {_DF_CAP} docs (the
    -- engine side's max_shingle_docs posting-size filter)
    sh AS (
      SELECT * FROM sh_raw WHERE shingle IN (
        SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) <= {_DF_CAP}
      )
    ),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    drop_ids AS (
      SELECT DISTINCT id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.85
    )
    SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens
    FROM kept WHERE doc_id NOT IN (SELECT id_b FROM drop_ids)
    GROUP BY lang
    """,
)
def curation_pipeline_q(spark, sf_dir):
    """The operators COMPOSE: quality gate (token count) -> deterministic
    per-language downsample (sampling.py) -> LSH near-dup removal keeping
    the lowest doc_id (dedup.py scale path) -> per-language corpus stats.
    Exactly the chain a training-data pipeline runs nightly at 100 TB;
    every stage is a declarative plan, so Catalyst fuses the gate +
    sample into the scan and the only shuffles are the dedup joins and
    the final aggregate."""
    from .operators.dedup import jaccard_pairs_lsh
    from .operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    base = docs.select("doc_id", "lang", "text", n_tokens.cast("long").alias("n_tokens"))
    kept = stratified_sample(
        base.filter(F.col("n_tokens") >= 25),
        "doc_id", "lang", {"en": 0.8}, 0.5, salt="cur", portable=True,
    )
    pairs = jaccard_pairs_lsh(
        kept.select("doc_id", "text"), threshold=0.85, n=3, k=24, n_bands=8,
        max_shingle_docs=_DF_CAP,
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        kept.join(drop, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )
