"""Differential-comparison helpers shared by unit tests.

Mirrors the driver's t2 gate: row count, column-name set, and
order-insensitive canonical value equality (floats bit-exact), with the
canonicaliser of ``tools/check_oracle.py``.
"""

from __future__ import annotations

from tools.check_oracle import canon_rows


def assert_matches_oracle(sdf, duck_con, oracle_sql: str):
    """Assert a Spark DataFrame hash-matches DuckDB output of oracle_sql."""
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    cur = duck_con.execute(oracle_sql)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (sorted(s_cols), sorted(d_cols))
    assert len(s_rows) == len(d_rows), (len(s_rows), len(d_rows))
    cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
    diffs = [(a, b) for a, b in zip(cs, cd) if a != b]
    assert not diffs, diffs[:3]
