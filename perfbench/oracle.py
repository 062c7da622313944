"""DuckDB oracle and output checks.

The oracle rebuilds the raw query log from the generated ``events`` file
with ``demo.RAW_QUERY_LOG_CTE`` (the package's DuckDB restatement of
``demo.build_raw_query_log``) and aggregates it per ``normalized_query``:
frequency, duration sum rounded to 2 places, and the set of tables.

Every ``check_*`` function returns a list of problems; an empty list means
the output is correct. The run loop counts an op as failed when its check
returns anything.
"""

from __future__ import annotations

import datetime as dt

import duckdb

Pattern = tuple[int, float, tuple[str, ...]]  # frequency, rounded duration sum, tables


def oracle_patterns(
    events_path: str, start: dt.datetime, end: dt.datetime, cte: str
) -> dict[str, Pattern]:
    """normalized_query -> (frequency, round(sum duration, 2), sorted tables)
    over the events with ``start <= ts < end``."""
    con = duckdb.connect()
    try:
        path = events_path.replace("'", "''")
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}') "
            f"WHERE ts >= TIMESTAMP '{start.isoformat(' ')}' AND ts < TIMESTAMP '{end.isoformat(' ')}'"
        )
        rows = con.execute(
            f"WITH {cte} SELECT normalized_query, count(*), round(sum(query_duration_ms), 2), "
            "list_sort(list_distinct(flatten(list(all_tables)))) FROM raw_norm GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {q: (int(n), float(d), tuple(t)) for q, n, d, t in rows}


def merge(parts: list[dict[str, Pattern]]) -> dict[str, Pattern]:
    """The oracle of several disjoint slices taken together."""
    out: dict[str, Pattern] = {}
    for part in parts:
        for q, (n, d, t) in part.items():
            n0, d0, t0 = out.get(q, (0, 0.0, ()))
            out[q] = (n0 + n, round(d0 + d, 2), tuple(sorted(set(t0) | set(t))))
    return out


def _same_duration(a: float, b: float) -> bool:
    # Both sides round a float sum to 2 places; summation order may put
    # them one unit apart at a .xx5 tie.
    return abs(round(a, 2) - b) <= 0.011


def check_pattern_row(q: str, freq: int, dur: float, tables, expected: dict[str, Pattern]) -> list[str]:
    if q not in expected:
        return [f"unexpected pattern {q!r}"]
    n, d, t = expected[q]
    problems = []
    if freq != n:
        problems.append(f"{q!r}: frequency {freq} != {n}")
    if not _same_duration(dur, d):
        problems.append(f"{q!r}: duration sum {dur} != {d}")
    if tables is not None and tuple(sorted(tables)) != t:
        problems.append(f"{q!r}: tables {sorted(tables or ())} != {list(t)}")
    return problems


def check_patterns(rows: list[dict], expected: dict[str, Pattern], min_frequency: int = 1) -> list[str]:
    """A full pattern table (every pattern with ``frequency >= min_frequency``)."""
    want = {q: p for q, p in expected.items() if p[0] >= min_frequency}
    problems = []
    seen = set()
    for r in rows:
        q = r["normalized_query"]
        if q in seen:
            problems.append(f"duplicate pattern {q!r}")
        seen.add(q)
        problems += check_pattern_row(q, r["frequency"], r["total_duration_ms"], r["tables_accessed"], want)
    missing = set(want) - seen
    if missing:
        problems.append(f"{len(missing)} patterns missing, e.g. {sorted(missing)[0]!r}")
    return problems


def check_top(rows: list[dict], expected: dict[str, Pattern], k: int, min_frequency: int = 1) -> list[str]:
    """A top-``k``-by-frequency page: each row matches the oracle, and the
    page's frequencies are the oracle's ``k`` largest, in order. Rows
    without ``tables_accessed`` (the console page) skip the table check."""
    want = {q: p for q, p in expected.items() if p[0] >= min_frequency}
    problems = []
    for r in rows:
        problems += check_pattern_row(
            r["normalized_query"], r["frequency"], r["total_duration_ms"],
            r.get("tables_accessed"), want,
        )
    top = sorted((p[0] for p in want.values()), reverse=True)[:k]
    got = [r["frequency"] for r in rows]
    if got != top:
        problems.append(f"top-{k} frequencies {got} != {top}")
    return problems
