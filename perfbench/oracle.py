"""DuckDB reference results the replay workload is checked against.

Latest-wins is recomputed from the staged change stream alone, with the
engine's ordering: per ``(repo, path)`` the event with the greatest
``(commit_seq, event_seq, event_id)`` wins, and a winning ``op = 'D'``
hides the key.
"""

from __future__ import annotations

import os

import duckdb

_WINNERS = """
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY {part} repo, path
            ORDER BY commit_seq DESC, event_seq DESC, event_id DESC) AS rn
        FROM read_parquet('{stream}/*.parquet')
        WHERE {where})
    WHERE rn = 1
"""


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def lookup_expectations(stream: str, start: int, batch: int, n_batches: int) -> list[tuple]:
    """For each tail batch ``i`` over ``(start + i*batch, start + (i+1)*batch]``:
    ``(repo, path, event_seq, content_sha)`` of the live row the batch
    leaves for the key of its highest-seq surviving winner.

    Events of a later window carry a higher ``commit_seq`` prefix, so a
    key's winner inside the window is also its table-wide winner right
    after the batch commits.
    """
    winners = _WINNERS.format(
        part=f"(event_seq - {start} - 1) // {batch},",
        stream=stream,
        where=f"event_seq > {start} AND event_seq <= {start + n_batches * batch}",
    )
    sql = f"""
        WITH w AS ({winners})
        SELECT (event_seq - {start} - 1) // {batch} AS i,
               arg_max(repo, event_seq), arg_max(path, event_seq),
               max(event_seq), arg_max(sha256(content), event_seq)
        FROM w WHERE op <> 'D' GROUP BY i ORDER BY i
    """
    with _connect() as con:
        rows = con.execute(sql).fetchall()
    if [r[0] for r in rows] != list(range(n_batches)):
        raise RuntimeError("a tail batch has no surviving winner to look up")
    return [tuple(r[1:]) for r in rows]


def table_mismatches(stream: str, table_root: str, files: list[str], cursor: int) -> dict:
    """Compare the table's live rows with latest-wins over every staged
    event up to ``cursor``; returns row counts and both set differences."""
    paths = [os.path.join(table_root, f) for f in files]
    winners = _WINNERS.format(part="", stream=stream, where=f"event_seq <= {cursor}")
    expected = f"""
        SELECT repo, path, event_seq, sha256(content) AS content_sha
        FROM ({winners}) WHERE op <> 'D'
    """
    actual = """
        SELECT repo, path, event_seq, content_sha
        FROM read_parquet($files, union_by_name = true, hive_partitioning = false)
        WHERE op IS NULL OR op <> 'D'
    """
    with _connect() as con:
        con.execute(f"CREATE TEMP TABLE e AS {expected}")
        con.execute(f"CREATE TEMP TABLE a AS {actual}", {"files": paths})
        out = {
            "expected_rows": con.execute("SELECT count(*) FROM e").fetchone()[0],
            "table_rows": con.execute("SELECT count(*) FROM a").fetchone()[0],
            "missing": con.execute("SELECT count(*) FROM (FROM e EXCEPT ALL FROM a)").fetchone()[0],
            "unexpected": con.execute("SELECT count(*) FROM (FROM a EXCEPT ALL FROM e)").fetchone()[0],
        }
    return out
