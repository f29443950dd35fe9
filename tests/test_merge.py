"""Property-based tests for the incremental merge (SURVEY §5.4).

Invariants under random changesets, through the production path
(``observe_rejects`` + ``apply_changeset``):
- every malformed record (null key, action other than U/D) is counted;
- with none, PK uniqueness is preserved;
- deleted keys are absent;
- updated keys carry exactly the latest (by meta ts) payload;
- untouched keys pass through unchanged;
- applying the same compacted changeset twice is idempotent.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from canvas_data_2_aws_spark.operators.merge import (
    apply_changeset,
    compact_changeset,
    observe_rejects,
)

BASE_SCHEMA = "pk LONG, val STRING"
CHANGE_SCHEMA = "pk LONG, val STRING, action STRING, ts LONG"


def change_strategy():
    return st.lists(
        st.tuples(
            st.integers(0, 11),               # pk: base holds 0..9
            st.text("abc", min_size=1, max_size=3),  # val
            st.sampled_from(["U", "D"]),
            st.integers(0, 50),               # ts
        ),
        min_size=0,
        max_size=25,
    )


def odd_strategy():
    """None, or a few records on a null key or a shared key, with any
    action: a null key or an action other than U/D makes a record
    malformed."""
    records = st.lists(
        st.tuples(
            st.sampled_from([None, 3]),
            st.just("odd"),
            st.sampled_from(["U", "D", "X"]),
            st.integers(0, 50),
        ),
        min_size=1,
        max_size=3,
    )
    return st.one_of(st.just([]), records)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(changes=change_strategy(), odd=odd_strategy())
def test_merge_invariants(spark, changes, odd):
    base_rows = [(i, f"base{i}") for i in range(10)]
    base = spark.createDataFrame(base_rows, BASE_SCHEMA)
    # unique (pk, ts) so "latest" is well-defined; tie-break by ts only
    seen = set()
    rows = []
    for pk, val, action, ts in changes + odd:
        if (pk, ts) not in seen:
            seen.add((pk, ts))
            rows.append((pk, val, action, ts))
    chg = spark.createDataFrame(rows, CHANGE_SCHEMA)

    compacted, obs = observe_rejects(chg, ["pk"], ["ts"])
    merged = apply_changeset(base, compacted, keys=["pk"]).collect()
    malformed = [r for r in rows if r[0] is None or r[2] not in ("U", "D")]
    assert obs.get["rejected"] == len(malformed)
    if malformed:
        return  # a writer refuses this changeset; there is no state to check

    latest: dict[int, tuple] = {}
    for pk, val, action, ts in rows:
        if pk not in latest or ts > latest[pk][3]:
            latest[pk] = (pk, val, action, ts)

    expected = {}
    for pk, val in base_rows:
        expected[pk] = val
    for pk, (_, val, action, _) in latest.items():
        if action == "D":
            expected.pop(pk, None)
        else:
            expected[pk] = val

    got = {r.pk: r.val for r in merged}
    assert len(merged) == len(got), "PK uniqueness violated"
    assert got == expected


def test_apply_changeset_refuses_mixed_sessions(spark):
    """A base and a changeset of two SparkSessions would leave an
    observation on the merged frame waiting forever; the merge refuses
    to plan them."""
    base = spark.createDataFrame([(1, "b1")], BASE_SCHEMA)
    other = spark.newSession().createDataFrame([(1, "new", "U", 1)], CHANGE_SCHEMA)
    compacted, _ = observe_rejects(other, ["pk"], ["ts"])
    with pytest.raises(ValueError, match="different SparkSessions"):
        apply_changeset(base, compacted, keys=["pk"])


def test_compaction_latest_wins(spark):
    chg = spark.createDataFrame(
        [(1, "old", "U", 1), (1, "new", "U", 2), (2, "x", "D", 1), (2, "y", "U", 0)],
        CHANGE_SCHEMA,
    )
    out = {
        r.pk: (r.val, r.action)
        for r in compact_changeset(chg, ["pk"], ["ts"]).collect()
    }
    assert out == {1: ("new", "U"), 2: ("x", "D")}


def test_merge_idempotent(spark):
    base = spark.createDataFrame([(i, f"b{i}") for i in range(8)], BASE_SCHEMA)
    chg = spark.createDataFrame(
        [(2, "upd", "U", 1), (3, "", "D", 1), (99, "ins", "U", 1)], CHANGE_SCHEMA
    )
    chg = compact_changeset(chg, ["pk"], ["ts"])
    once = apply_changeset(base, chg, keys=["pk"])
    twice = apply_changeset(once, chg, keys=["pk"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_asof_tie_inclusive(spark):
    from canvas_data_2_aws_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "a"), (1, 5, "b")], "k LONG, t LONG, id STRING")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 4, 50.0), (1, 11, 999.0)], "k LONG, t LONG, v DOUBLE"
    )
    out = {
        r.id: r.asof_value
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t", right_value="v"
        ).collect()
    }
    # inclusive: the t=10 right row is visible to the t=10 left row
    assert out == {"a": 100.0, "b": 50.0}


@settings(max_examples=12, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=12
    ),
    right=st.dictionaries(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        st.integers(0, 999),
        min_size=0,
        max_size=12,
    ),
)
def test_asof_matches_bruteforce(spark, left, right):
    """asof_join ≡ per-row latest-prior lookup on random event sets.

    Right-side (key, ts) pairs are unique (dict keys) — the operator's
    documented contract; duplicate right timestamps per key have no
    defined winner."""
    from canvas_data_2_aws_spark.operators.asof import asof_join

    left_rows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    right_rows = [(k, ts, v) for (k, ts), v in right.items()]
    ldf = spark.createDataFrame(left_rows, "id long, k long, lts long")
    rdf = spark.createDataFrame(
        right_rows or [(None, None, None)], "k long, rts long, v long"
    ).where(F.col("k").isNotNull())
    got = {
        r.id: r.asof_value
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", right_value="v"
        ).collect()
    }
    for i, k, ts in left_rows:
        cands = [(rts, v) for (rk, rts), v in right.items() if rk == k and rts <= ts]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, k, ts, got[i], expected)


def test_asof_tolerance_nulls_stale_matches(spark):
    import datetime as dt

    from canvas_data_2_aws_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0, "fresh"), (2, t0 + dt.timedelta(days=30), "stale")],
        "k LONG, t TIMESTAMP, id STRING",
    )
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(days=2), 100.0),
         (2, t0 - dt.timedelta(days=2), 200.0)],
        "k LONG, t TIMESTAMP, v DOUBLE",
    )
    out = {
        r.id: r.asof_value
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t", right_value="v",
            tolerance="14 DAY",
        ).collect()
    }
    # k=1 match is 2 days old → kept; k=2 match is 32 days old → nulled
    assert out == {"fresh": 100.0, "stale": None}


def test_asof_tolerance_grammar_rejected(spark):
    """Malformed tolerance strings must raise a clear ValueError at the
    call site, never reach Catalyst as interpolated expression text."""
    import pytest

    from canvas_data_2_aws_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "k long, ts string") \
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    right = spark.createDataFrame([(1, "2024-01-01 00:00:00", 5.0)],
                                  "k long, ts string, v double") \
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    for bad in ["2; DROP TABLE x", "abc", "2 fortnights", "1 HOUR 30 MINUTES", ""]:
        with pytest.raises(ValueError, match="invalid asof tolerance"):
            asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                      right_value="v", tolerance=bad)
    # the documented grammar still works, case-insensitively
    ok = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                   right_value="v", tolerance="90 minutes")
    assert ok.count() == 1


def test_ivm_join_view_matches_recompute(spark):
    """Spark-side recompute equivalence, independent of the oracle: the
    delta-maintained join view equals a from-scratch recompute of the
    merged replica joined with the dim."""
    import os

    from pyspark.sql import functions as F

    from canvas_data_2_aws_spark import registry
    from canvas_data_2_aws_spark.operators.merge import apply_changeset
    from canvas_data_2_aws_spark.queries.merge import derive_changeset
    from canvas_data_2_aws_spark.session import load_table

    registry.load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    got = {
        r.c_mktsegment: (r.n_orders, round(r.revenue, 6))
        for r in registry.QUERIES["merge_ivm_join_view"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    merged = apply_changeset(orders, derive_changeset(orders), keys=["o_orderkey"])
    want = {
        r.c_mktsegment: (r.n, round(r.rev, 6))
        for r in merged.join(customer, merged.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("rev"),
        )
        .collect()
    }
    assert got == want


def test_equality_deletes_accounting(spark):
    import os

    from canvas_data_2_aws_spark import registry

    registry.load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    r = registry.QUERIES["merge_equality_deletes"](spark, sf_dir).collect()[0]
    assert r.n_files_touched <= r.n_files
    assert r.n_erased <= r.n_rows
    assert 0.0 <= r.compact_rewrite_frac <= 1.0
    # a touched file implies at least one erased row and vice versa
    assert (r.n_files_touched == 0) == (r.n_erased == 0)
