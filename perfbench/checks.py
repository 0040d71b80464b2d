"""Output checks, run outside the timed region.

Ingest reads are recomputed independently in plain Python; batch jobs are
hash-matched against their DuckDB oracles exactly as `tools/check.py`
does.  Each check returns a list of problems (empty = pass).
"""

from __future__ import annotations

import math
import os
import tempfile

import duckdb

from perfbench.corpus import TABLES


def duck(corpus_dir: str, threads: int | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # spill files, if any, stay in the run's work directory
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    if threads:
        con.execute(f"SET threads = {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus_dir, t)}.parquet'")
    return con


def rows_of(result_json: dict) -> list[dict]:
    return [g["elements"][0] for g in result_json["result"]]


def close(a, b, rel=1e-9, abs_=1e-6) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)
    return a == b


def compare(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(close(a, b) for a, b in zip(g, w)):
            return [f"{what}: row {i} is {g}, expected {w}"]
    return []


# ---------------------------------------------------------------- ingest


def _tokens(text: str) -> list[str]:
    return [t for t in text.split(" ") if t]


def expect_phrase(docs, phrase: str, limit: int) -> list[tuple]:
    """(doc id, occurrences) of `phrase` in `docs`, most matches first."""
    words = _tokens(phrase)
    n = len(words)
    hits = []
    for doc_id, text in docs:
        toks = _tokens(text)
        m = sum(toks[i:i + n] == words for i in range(len(toks) - n + 1))
        if m:
            hits.append((doc_id, m))
    return sorted(hits, key=lambda r: (-r[1], r[0]))[:limit]


# ----------------------------------------------------------------- batch


def oracle_rows(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def check_batch_job(name: str, cols: list[str], rows: list[tuple], oracle) -> list[str]:
    """Exact canonical-form match, the tools/check.py gate."""
    from tools.check import canon, frame_lines

    o_cols, o_rows = oracle
    s, d = canon(cols, rows), canon(o_cols, o_rows)
    if list(s.columns) != list(d.columns):
        return [f"{name}: columns {list(s.columns)} vs oracle {list(d.columns)}"]
    if len(s) != len(d):
        return [f"{name}: {len(s)} rows vs oracle {len(d)}"]
    diff = sum(a != b for a, b in zip(frame_lines(s), frame_lines(d)))
    return [f"{name}: {diff}/{len(s)} rows differ from the oracle"] if diff else []
