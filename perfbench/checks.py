"""Correctness checks, run outside the timed region.

Each check compares a Spark output the workload wrote as parquet with an
independent path: the engine's DuckDB oracles (``oracles.py``,
``docs_oracles.py``) over the same input files, a driver-local
union-find, or the batch rollup for the streaming store. A check
returns ``(name, ok, detail)``.
"""

from __future__ import annotations

import re

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    return con


def parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def parquet_files(files: list[str]) -> str:
    names = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{names}])"


def on_transcripts(oracle_sql: str, relation: str) -> str:
    """Point an oracle built on ``with_transcripts`` at a transcripts
    relation (``parquet(dir)``, ``parquet_files(...)`` or a subquery)
    instead of the raw events relation."""
    from streamevmon_spark.data.transcripts import TRANSCRIPTS_SQL

    derived = TRANSCRIPTS_SQL.format(events="events")
    if derived not in oracle_sql:
        raise ValueError("oracle does not start from the transcripts derivation")
    return oracle_sql.replace(derived, f"SELECT * FROM {relation}", 1)


_BOUNDS = re.compile(r"bounds AS \(\s*SELECT \(lo_min.*?FROM b\s*\)", re.S)


def with_range(oracle_sql: str, t0_us: int, t1_us: int) -> str:
    """Replace a range oracle's fixed 13%..87% bounds with [t0_us, t1_us)."""
    out, n = _BOUNDS.subn(
        f"bounds AS (SELECT CAST({t0_us} AS BIGINT) AS t0,"
        f" CAST({t1_us} AS BIGINT) AS t1)",
        oracle_sql,
    )
    if n != 1:
        raise ValueError("oracle has no bounds CTE to replace")
    return out


def diff(con, name: str, expected_sql: str, got_sql: str, cols: list[str]):
    """Multiset equality of two relations over ``cols`` (bit-exact)."""
    sel = ", ".join(cols)
    e = f"SELECT {sel} FROM ({expected_sql}) __e"
    g = f"SELECT {sel} FROM ({got_sql}) __g"
    missing, extra, n = con.execute(
        f"SELECT (SELECT count(*) FROM ({e} EXCEPT ALL {g})),"
        f" (SELECT count(*) FROM ({g} EXCEPT ALL {e})),"
        f" (SELECT count(*) FROM ({e}))"
    ).fetchone()
    ok = missing == 0 and extra == 0 and n > 0
    return name, ok, f"expected={n} missing={missing} extra={extra}"


def union_find_clusters(doc_ids, pairs) -> dict:
    """doc_id -> min doc_id reachable through ``pairs``."""
    parent = {d: d for d in doc_ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}
