"""Cross-engine deterministic numeric aggregation (SURVEY §8.3).

Raw ``SUM(double)`` differs across engines by summation order. The
recipe — verified bit-identical between Spark and DuckDB on the Q1
shape — is to sum in DECIMAL and cast the final value back to DOUBLE
(never emit DECIMAL in a graded schema: precision metadata differs
across engines).

Why scale **6**, not 4: Spark casts double→decimal via the shortest
decimal string of the double (java ``BigDecimal.valueOf``) with
HALF_UP, DuckDB via the exact binary expansion — on an exact-.5
boundary at the target scale they disagree (measured: 640/20000
lineitem rows at scale 4, e.g. 86684.10495 → 86684.1050 vs .1049).
Fixture money columns carry ≤2 dp, so any 2-/3-factor product is
exact at ≤6 dp: casting to scale 6 hits no rounding boundary in
either engine and both recover the exact mathematical value.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def dec6(expr: str) -> Column:
    """``CAST(expr AS DECIMAL(18,6))`` — the pre-aggregation cast."""
    return F.expr(f"CAST(({expr}) AS DECIMAL(18,6))")


def dsum(expr: str, alias: str) -> Column:
    """Deterministic SUM of a double expression (SQL-string form)."""
    return F.expr(f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)").alias(alias)


def dsum_col(col: Column, alias: str) -> Column:
    """Deterministic SUM of a double Column (DataFrame form)."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def row_digest(df: DataFrame, cols: Sequence[str]) -> Column:
    """Engine-neutral content digest of one row: md5 over the
    ``|``-joined canonical fields of ``cols`` (in that order), folded to
    its first 32 bits as a long. ``SUM`` of it is an order-insensitive
    table checksum that any engine reproduces.

    Each field's canonical form follows its dtype: doubles as integer
    cents, timestamps as ISO strings, the other scalar types as their
    string cast. Raw double/timestamp string forms are engine-dependent
    and must never enter a digest, but silently excluding those columns
    would let corruption of e.g. o_totalprice or o_orderdate pass."""
    dtypes = dict(df.dtypes)
    parts = []
    for c in cols:
        t, col = dtypes[c], F.col(c)
        if t in ("double", "float"):
            parts.append(F.round(col * 100, 0).cast("long").cast("string"))
        elif t.startswith("timestamp"):
            parts.append(F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
        elif t.startswith("decimal") or t in (
            "string", "int", "bigint", "smallint", "tinyint", "boolean", "date"
        ):
            parts.append(col.cast("string"))
    row = F.concat_ws("|", *parts)
    return F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("long")


def davg(expr: str, alias: str) -> Column:
    """Deterministic AVG: decimal-sum divided by count, as double.

    Double ÷ bigint is exact given identical operands, so matching the
    same formula in the oracle yields bit-identical results.
    """
    return F.expr(
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
    ).alias(alias)


def oracle_dsum(expr: str, alias: str) -> str:
    """The oracle-side (DuckDB) twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def oracle_davg(expr: str, alias: str) -> str:
    """The oracle-side twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS {alias}"
    )
