"""JSONL source contract, content-hash parity, timezone edges, retry, guess."""

import json
import os

import pytest
from pyspark.sql import functions as F

from embulk_input_mixpanel_spark.functions.retry import FatalError, with_retry
from embulk_input_mixpanel_spark.functions.timeconv import DROP, SHIFT, epoch_local_adjust, ms_to_s
from embulk_input_mixpanel_spark.sources.jsonl import (
    IncompleteStreamError,
    probe_nonempty_window,
    read_jsonl_events,
)
from embulk_input_mixpanel_spark.sources.genevents import change_events


def _write_jsonl(path, records, truncate_last=False):
    lines = [json.dumps(r) for r in records]
    body = "\n".join(lines)
    if truncate_last:
        body = body[: len(body) - 15]  # cut inside the final record
    with open(path, "w") as fh:
        fh.write(body)


def _rec(i):
    return {
        "event_id": f"e{i}", "event_seq": i, "ts_ms": 1700000000000 + i,
        "op": "U", "source_partition": 0, "repo": "r", "path": f"p{i}",
        "commit": "c", "commit_seq": i, "lang": "python",
        "content": f"content-{i}", "props": "{}",
    }


def test_jsonl_clean_scan(spark, tmp_path):
    p = str(tmp_path / "clean.jsonl")
    _write_jsonl(p, [_rec(i) for i in range(20)])
    scan = read_jsonl_events(spark, p)
    assert scan.corrupt_count == 0
    assert scan.total_count == 20
    assert scan.df.count() == 20


def test_jsonl_truncated_tail_raises_without_allow_partial(spark, tmp_path):
    """(reference: IncompleteExportResponseError, client.rb:89-113 tests)"""
    p = str(tmp_path / "trunc.jsonl")
    _write_jsonl(p, [_rec(i) for i in range(10)], truncate_last=True)
    with pytest.raises(IncompleteStreamError):
        read_jsonl_events(spark, p, allow_partial=False)


def test_jsonl_truncated_tail_partial_keeps_good_rows(spark, tmp_path):
    """(reference: allow_partial_import, export_service.rb:128-133)"""
    p = str(tmp_path / "trunc2.jsonl")
    _write_jsonl(p, [_rec(i) for i in range(10)], truncate_last=True)
    scan = read_jsonl_events(spark, p, allow_partial=True)
    assert scan.corrupt_count == 1
    assert scan.df.count() == 9  # rows before the truncation survive


def test_jsonl_limit_pushdown(spark, tmp_path):
    p = str(tmp_path / "lim.jsonl")
    _write_jsonl(p, [_rec(i) for i in range(50)])
    scan = read_jsonl_events(spark, p, limit=10)
    assert scan.df.count() == 10  # SMALL_NUM_OF_RECORDS analog (client.rb:15)


def test_probe_expands_until_nonempty(spark):
    ev = change_events(spark, 200, n_repos=5, paths_per_repo=5, dup_rate=0.0)
    # sparse start: nothing in (150, 151] but events exist further out
    hi, rows = probe_nonempty_window(ev.filter(F.col("event_seq") >= 190), 150, 200)
    assert rows and hi <= 200


def test_probe_all_empty_raises(spark):
    ev = change_events(spark, 10, n_repos=2, paths_per_repo=2, dup_rate=0.0)
    with pytest.raises(ValueError):
        probe_nonempty_window(ev.filter(F.col("event_seq") > 1000), 2000, 3000)


def test_sha_implementations_agree(spark):
    """The engine's ``content_sha`` (JVM ``sha2(content, 256)``) is the
    oracle's ``hashlib.sha256`` of the UTF-8 bytes, and null stays null."""
    import hashlib

    values = ["hello", "", "unicode ✓ ok — naïve 日本語 🚀", None]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = [r["h"] for r in df.select(F.sha2(F.col("s"), 256).alias("h")).collect()]
    want = [None if v is None else hashlib.sha256(v.encode("utf-8")).hexdigest() for v in values]
    assert got == want


def test_ms_to_s_only_positive(spark):
    """(reference: ms->s only when value > 0, jql_service.rb:204-234)"""
    df = spark.createDataFrame([(1452027552000,), (0,), (-5,)], ["v"])
    out = [r[0] for r in df.select(ms_to_s("v")).collect()]
    assert out == [1452027552, 0, -5]


def test_dst_gap_drop_and_shift(spark):
    """US/Pacific 2015-03-08 02:30 does not exist (spring forward).

    Export semantics drop it (F1, base_service.rb:43-51 +
    export_service.rb:124-126); JQL semantics shift +1h (F2,
    jql_service.rb:151-169).
    """
    import calendar
    import datetime as dt

    gap = calendar.timegm(dt.datetime(2015, 3, 8, 2, 30).timetuple())
    ok = calendar.timegm(dt.datetime(2015, 3, 8, 1, 30).timetuple())
    df = spark.createDataFrame([(gap,), (ok,)], ["epoch"])
    dropped = [r[0] for r in df.select(epoch_local_adjust("epoch", "US/Pacific", DROP)).collect()]
    assert dropped[0] is None and dropped[1] is not None
    shifted = [r[0] for r in df.select(epoch_local_adjust("epoch", "US/Pacific", SHIFT)).collect()]
    assert shifted[0] is not None
    # 01:30 PST -> 09:30 UTC; gap 02:30 shifts to 03:30 PDT -> 10:30 UTC
    assert shifted[0] - dropped[1] == 3600


def test_retry_backoff_schedule():
    """(reference: sleep = initial * (2n-1)-ish ladder, base_service.rb:90-99)"""
    sleeps = []
    calls = {"n": 0}

    @with_retry(limit=3, initial_wait=1.0, sleep=sleeps.append)
    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise RuntimeError("boom")
        return "ok"

    assert flaky() == "ok"
    assert sleeps == [1.0, 3.0, 5.0]


def test_retry_fatal_not_retried():
    calls = {"n": 0}

    @with_retry(limit=5, initial_wait=0.0, sleep=lambda s: None)
    def fatal():
        calls["n"] += 1
        raise FatalError("config")

    with pytest.raises(FatalError):
        fatal()
    assert calls["n"] == 1


def test_guess_schema_from_sample(spark):
    """(reference guess: 10-record sample -> schema, export_service.rb:188-203)"""
    from embulk_input_mixpanel_spark.runner import guess_schema

    ev = change_events(spark, 100, n_repos=3, paths_per_repo=3, evolve_after=0)
    schema = guess_schema(ev, sample=10)
    names = {f.name for f in schema.fields}
    assert {"repo", "path", "content_sha", "p_size", "p_mode", "p_branch"} <= names


def test_guess_schema_timestamps_with_formats(spark):
    """Timestamp-shaped prop strings guess to TimestampType/DateType with
    their parse format (reference format plumbing: mixpanel.rb:15-20,
    export_service.rb:195-197; goldens test_export_service.rb:65-184)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from embulk_input_mixpanel_spark.runner import guess_schema_with_formats

    props = [
        json.dumps(
            {
                "created": f"2024-01-0{i + 1}T10:0{i}:00Z",
                "day": f"2024-01-0{i + 1}",
                "note": "free text",
                "mixed": "2024-01-01" if i % 2 == 0 else "not a date",
                "n": i,
            }
        )
        for i in range(5)
    ]
    ev = spark.createDataFrame([(p,) for p in props], ["props"])
    schema, formats = guess_schema_with_formats(ev, sample=10)
    by_name = {f.name: f.dataType for f in schema.fields}
    assert isinstance(by_name["p_created"], T.TimestampType)
    assert isinstance(by_name["p_day"], T.DateType)
    assert isinstance(by_name["p_note"], T.StringType)
    assert isinstance(by_name["p_mixed"], T.StringType)  # inconsistent -> widened
    assert isinstance(by_name["p_n"], T.LongType)
    assert set(formats) == {"p_created", "p_day"}
    # round-trip: the emitted format parses every sampled value
    parsed = (
        ev.select(F.get_json_object("props", "$.created").alias("s"))
        .select(F.to_timestamp("s", formats["p_created"]).alias("t"))
        .collect()
    )
    assert all(r["t"] is not None for r in parsed)


def test_sql_pushdown_param_binding(spark):
    """(reference: param injection jql_service.rb:192-197 — S5)"""
    from embulk_input_mixpanel_spark.sources.sqlquery import run_pushdown_query

    ev = change_events(spark, 100, n_repos=3, paths_per_repo=3)
    out = run_pushdown_query(
        spark,
        "SELECT op, count(*) AS n FROM ch WHERE event_seq <= :hi GROUP BY op",
        params={"hi": 49},
        tables={"ch": ev},
    )
    assert sum(r["n"] for r in out.collect()) == ev.filter("event_seq <= 49").count()


def test_sql_pushdown_empty_script_rejected(spark):
    """(reference: jql_service.rb:259-264)"""
    from embulk_input_mixpanel_spark.plans.windows import ConfigError
    from embulk_input_mixpanel_spark.sources.sqlquery import run_pushdown_query

    with pytest.raises(ConfigError):
        run_pushdown_query(spark, "   ")


def test_source_available_ping(spark, tmp_path):
    from embulk_input_mixpanel_spark.sources.sqlquery import source_available

    p = str(tmp_path / "ping")
    spark.range(3).write.parquet(p)
    assert source_available(spark, p, retries=0)
    assert not source_available(spark, str(tmp_path / "nope"), retries=1, wait=0.05)


def test_guess_ts_format_roundtrip_high_precision_and_offsets(spark):
    """Every regex-accepted timestamp string must PARSE with the emitted
    Spark format — microsecond/nanosecond fractions and no-colon offsets
    included (a TimestampType guess whose format NULLs the values would be
    silent data loss on ingest)."""
    from pyspark.sql import functions as F

    from embulk_input_mixpanel_spark.runner import _guess_ts_format

    cases = [
        "2024-01-01T00:00:00.123456Z",        # 6-digit fraction + Z
        "2024-01-01T00:00:00.123456789Z",     # 9-digit fraction
        "2024-01-01T00:00:00.1Z",             # 1-digit fraction
        "2024-01-01T00:00:00+05:30",          # colon offset
        "2024-01-01T00:00:00.25+05:30",
        "2024-01-01T00:00:00+0530",           # no-colon offset -> XX format
        "2024-01-01T00:00:00.123456+0530",
        "2024-01-01T00:00:00.999999",         # naive
        "2024-01-01 12:34:56.123456",
    ]
    for s in cases:
        guess = _guess_ts_format(s)
        assert guess is not None, s
        fmt, _typ = guess
        row = (
            spark.createDataFrame([(s,)], ["s"])
            .select(F.to_timestamp("s", fmt).alias("t"))
            .first()
        )
        assert row["t"] is not None, f"{s!r} guessed {fmt!r} but parsed NULL"
