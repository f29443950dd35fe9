"""Bucketed-layout co-located join (SCALE.md §1): replica tables
bucketed by PK must join with ZERO shuffle — the property that makes
the per-sync M1 merge shuffle-free at 100 TB."""

from __future__ import annotations

import pytest

from canvas_data_2_aws_spark.session import load_table


@pytest.fixture()
def bucketed_pair(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    for name, df in (("b_orders", orders), ("b_lineitem", li)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    yield spark.table("b_orders"), spark.table("b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cobucketed_join_is_shuffle_free(spark, bucketed_pair):
    a, b = bucketed_pair
    # Disable broadcast: at fixture scale the dim side fits under the
    # threshold and Catalyst would broadcast instead — the property
    # under test is the big-big case, where bucketing must remove the
    # ShuffleExchange on BOTH sides.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        assert joined.count() == b.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_is_shuffle_free(spark, bucketed_pair):
    a, _ = bucketed_pair
    agg = a.groupBy("o_orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """SCALE.md §1: date-partitioned fact layout + dim-side filter →
    Catalyst injects a dynamic pruning subquery into the fact scan, so
    only matching partitions are read at 100 TB."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("order_year").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    years = [r.order_year for r in orders.select("order_year").distinct().collect()]
    dim = spark.createDataFrame(
        [(y, "keep" if y == min(years) else "drop") for y in years],
        "order_year int, flag string",
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))

    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim_f = spark.read.parquet(str(tmp_path / "dim")).where("flag = 'keep'")
    joined = fact.join(dim_f, "order_year")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == orders.where(F.col("order_year") == min(years)).count()


def test_merge_base_side_is_shuffle_free(spark, sf_dir, tmp_path):
    """The M1 merge over a PK-bucketed base (snapshot_load_bucketed)
    must not shuffle the base side: every Exchange in the executed
    plan belongs to the changeset branch, and the base scan reads its
    catalog bucketing. This pins SCALE.md §1's central claim — at
    100 TB only the small changeset moves."""
    from pyspark.sql import functions as F

    from canvas_data_2_aws_spark.operators.merge import (
        apply_changeset,
        compact_changeset,
        snapshot_load_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    spark.sql("DROP TABLE IF EXISTS b_merge_base")
    # Bucket count = session shuffle partitions so the changeset's
    # compaction shuffle is directly join-compatible (no re-exchange).
    nbuckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = snapshot_load_bucketed(
        orders, "b_merge_base", ["o_orderkey"], str(tmp_path / "b_merge_base"),
        buckets=nbuckets,
    )
    changes = (
        orders.where("o_orderkey % 7 = 0")
        .withColumn("action", F.when(F.col("o_orderkey") % 2 == 0, "U").otherwise("D"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("chg_ts", F.lit(1).cast("long"))
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        merged = apply_changeset(
            base, compact_changeset(changes, ["o_orderkey"], ["chg_ts"]),
            keys=["o_orderkey"],
        )
        import re

        plan = merged._jdf.queryExecution().executedPlan().toString()
        # The base-side scan must carry its catalog bucketing...
        assert "Bucketed: true" in plan, plan
        # ...and sit DIRECTLY under the anti-join's Sort — no Exchange
        # between join and base scan. The bucketed scan is the only
        # spark_catalog scan in the plan; its immediate parent line
        # must be a Sort (ENSURE_REQUIREMENTS inserts Exchange lines
        # between Sort and scan when partitioning is NOT satisfied).
        lines = plan.splitlines()
        (scan_idx,) = [
            i for i, l in enumerate(lines) if "b_merge_base" in l and "FileScan" in l
        ]
        parent = lines[scan_idx - 1]
        assert re.search(r"Sort \[o_orderkey#\d+L ASC", parent), plan
        assert "Exchange" not in parent
        # The changeset is compacted once, inside its checkpoint (the
        # ExistingRDD scan); the only shuffle left in the plan moves the
        # compacted keys to the anti-join, and it sits on that scan.
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, plan
        (ex_idx,) = [
            i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l
        ]
        assert "Scan ExistingRDD" in lines[ex_idx + 2], plan
        # semantics unchanged by the layout
        n_del = changes.where("action = 'D'").count()
        assert merged.count() == orders.count() - n_del
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_merge_base")
